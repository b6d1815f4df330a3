package graft.operators

import java.math.{BigDecimal => JBigDecimal}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.binlog.BinlogWriter._
import graft.binlog.TableMeta

/** Binlog CDC queries over deterministic generated fixtures — the engine's
  * reference-parity surface wired into the driver contract.
  *
  * Oracle strategy: the fixture generator knows every change it encodes, so
  * alongside the binlog bytes it emits `expected_changes.csv` (one row per
  * decoded change row: full envelope + payload, with the exact `(log_file,
  * log_pos, log_seq, xid, _delta_type)` the decoder must produce) and
  * `expected_events.csv` (one row per event). The DuckDB oracle queries
  * read those files directly — the ground truth comes from the *encoder's*
  * arithmetic (writer positions, txn structure), never from the decoder
  * under test, so a decode bug is a hash mismatch, not a self-consistent
  * fixture.
  *
  * The fixture mirrors the reference's bench table `bench.big(id int, val
  * decimal(12,4), word varchar(50))` (`mysql_bench.clj:91-94`) and scales
  * with the sf directory: sf0.1 yields ~200k change rows across 4 rotated
  * files (≈ the reference's ≥10 MB binlog grown by doubling,
  * `mysql_bench.clj:109-114`) so the bench measures real decode throughput
  * with cross-file parallelism.
  */
object CdcBinlog {

  private val cols = Seq(ColSpec.int, ColSpec.decimal(12, 4), ColSpec.varchar(50))
  val payloadDdl = "id INT, val DECIMAL(12,4), word STRING"

  /** rows per sf dir: ~2k at sf0.001, ~20k at 0.01, ~200k at 0.1 */
  def rowsFor(sfDir: String): Int = {
    val sf = """sf([0-9.]+)""".r.findFirstMatchIn(sfDir)
      .map(_.group(1).toDouble).getOrElse(0.001)
    math.max((sf * 2000000).toInt, 2000)
  }

  private def word(i: Int): String = {
    val ws = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
    s"${ws(i % 8)}_${i % 977}"
  }

  private def dec(i: Int): JBigDecimal =
    new JBigDecimal(((i.toLong * 7919) % 100000000L).toString).movePointLeft(4)

  /** Fixture directory as a pure function of the sf dir — the oracle SQL
    * embeds this absolute path, so it must be deterministic regardless of
    * which queries ran first (or at all) in this process.
    */
  private def fixturePathFor(sfDir: String): java.nio.file.Path =
    Paths.get(sys.props("java.io.tmpdir"), s"graft-binlog-r15b-${rowsFor(sfDir)}")

  /** One generation pass: writes the rotated binlog files into `dir` (with
    * or without CRC32 checksums and v1 or v2 rows events — positions
    * differ, logical content is identical; `gtid` interleaves the >= 5.6
    * GTID framing) and, when writers are given, the
    * expected-changes/-events ground truth alongside.
    */
  private def writeFixture(dir: java.nio.file.Path, total: Int, checksum: Boolean,
                           expC: java.io.Writer, expE: java.io.Writer,
                           rowsV2: Boolean = false, gtid: Boolean = false,
                           expG: java.io.Writer = null,
                           rowsQuery: Boolean = false,
                           fullMeta: Boolean = false,
                           ctp: Boolean = false,
                           mdb: Boolean = false): Unit = {
    def change(f: String, pos: Long, seq: Int, xid: Long, dt: String, i: Int,
               v: JBigDecimal, w: String): Unit =
      if (expC != null) expC.write(s"$f,$pos,$seq,$xid,$dt,$i,$v,$w\n")
    def event(t: String, xid: String = ""): Unit =
      if (expE != null) expE.write(s"$t,$xid\n")
    // xid: the commit id of the transaction the GTID frames (0 for head
    // declarations) — lets resume oracles map "after GTID g" to an xid
    // cutoff from GENERATOR data instead of re-deriving batch geometry
    def gtidRec(f: String, kind: String, g: Long, xid: Long = 0L): Unit =
      if (expG != null) expG.write(s"$f,$kind,$g,$xid\n")
    val nFiles = 4
    val perFile = total / nFiles
    var id = 0
    val v2Suffix = if (rowsV2) "_V2" else ""
    var gno = 0L
    for (f <- 1 to nFiles) {
      val fname = f"binlog.$f%06d"
      val w = new Writer(checksum = checksum, rowsV2 = rowsV2)
      w.writeFormatDescription(ts = 1700000000L,
        serverVersion = if (mdb) "10.6.14-MariaDB-log"
        else if (rowsV2) "8.0.36-graft-fixture" else "")
      event("FORMAT_DESCRIPTION_EVENT")
      if (gtid && mdb) {
        // MariaDB file head: GTID_LIST declares the binlog state (last
        // GTID per domain-server) instead of PREVIOUS_GTIDS
        w.writeMariaGtidList(if (gno == 0) Nil else Seq((0L, 1L, gno)),
          ts = 1700000000L)
        event("GTID_LIST_EVENT_MARIADB")
        gtidRec(fname, "list", gno)
      } else if (gtid) {
        w.writePreviousGtids(gno, ts = 1700000000L); event("PREVIOUS_GTIDS_LOG_EVENT")
        gtidRec(fname, "prev", gno)
      }
      var written = 0
      var txn = 0
      while (written < perFile) {
        val n = math.min(100, perFile - written)
        val ts = 1700000000L + id / 10
        val xid = 100000L + id.toLong
        if (gtid && mdb) {
          // the MariaDB GTID frame REPLACES BEGIN (no QUERY event opens
          // the group)
          gno += 1; w.writeMariaGtid(0L, gno, ts = ts); event("GTID_EVENT_MARIADB")
          gtidRec(fname, "txn", gno, xid)
        } else if (gtid) {
          gno += 1; w.writeGtid(gno, ts = ts); event("GTID_LOG_EVENT")
          gtidRec(fname, "txn", gno, xid)
        }
        // MariaDB log_bin_compress=ON twin: every other transaction's rows
        // events arrive per-event zlib-compressed (166-168)
        val mdbCompress = mdb && txn % 2 == 0
        // `binlog_transaction_compression=ON` twin: the transaction's
        // events (BEGIN..XID) go into a nested inner stream and wrap in
        // one TRANSACTION_PAYLOAD on the outer log — alternating zstd /
        // uncompressed payloads so both decode modes are exercised. The
        // GTID frame stays OUTER (as the server writes it).
        val tw = if (ctp) new Writer(rowsV2 = rowsV2, nested = true) else w
        // per-statement ROWS_QUERY (binlog_rows_query_log_events=ON): real
        // server order is QUERY(BEGIN), ROWS_QUERY, TABLE_MAP, rows events
        // — the SQL precedes its statement's table map; text is
        // deterministic in (verb, xid) so the oracle can derive it from
        // the ground truth alone
        def stmt(verb: String): Unit = if (rowsQuery) {
          if (mdb) {
            tw.writeAnnotateRows(s"$verb bench.big /* xid=$xid */", ts = ts)
            event("ANNOTATE_ROWS_EVENT")
          } else {
            tw.writeRowsQuery(s"$verb bench.big /* xid=$xid */", ts = ts)
            event("ROWS_QUERY_LOG_EVENT")
          }
        }
        // binlog_row_metadata=FULL twin: every TABLE_MAP carries column
        // names, signedness and charsets in-log (MySQL 8.0 TLV block)
        val tmMeta =
          if (fullMeta) TableMeta(names = Seq("id", "val", "word"),
            unsigned = Set.empty, defaultCharset = 8 /* latin1_swedish_ci */)
          else null
        if (!mdb) { tw.writeQuery("bench", "BEGIN", ts = ts); event("QUERY_EVENT") }
        stmt("INSERT INTO")
        tw.writeTableMap(42, "bench", "big", cols, ts = ts, optMeta = tmMeta)
        event("TABLE_MAP_EVENT")
        val insPos = tw.position
        val rows = (0 until n).map { k => Seq[Any](id + k, dec(id + k), word(id + k)) }
        if (mdbCompress) {
          tw.writeInsertCompressed(42, cols, rows, ts = ts)
          event("WRITE_ROWS_COMPRESSED_EVENT_V1")
        } else {
          tw.writeInsert(42, cols, rows, ts = ts)
          event(s"WRITE_ROWS_EVENT$v2Suffix")
        }
        (0 until n).foreach { k =>
          change(fname, insPos, k, xid, "insert", id + k, dec(id + k), word(id + k))
        }
        if (txn % 5 == 3) { // some txns also update their first 20 rows
          stmt("UPDATE")
          val updPos = tw.position
          val updRows = (0 until math.min(20, n)).map { k =>
            (Seq[Any](id + k, dec(id + k), word(id + k)),
             Seq[Any](id + k, dec(id + k + 1), word(id + k + 1)))
          }
          if (mdbCompress) {
            tw.writeUpdateCompressed(42, cols, updRows, ts = ts)
            event("UPDATE_ROWS_COMPRESSED_EVENT_V1")
          } else {
            tw.writeUpdate(42, cols, updRows, ts = ts)
            event(s"UPDATE_ROWS_EVENT$v2Suffix")
          }
          (0 until math.min(20, n)).foreach { k =>
            change(fname, updPos, 2 * k, xid, "update-before", id + k, dec(id + k), word(id + k))
            change(fname, updPos, 2 * k + 1, xid, "update", id + k, dec(id + k + 1), word(id + k + 1))
          }
        }
        if (txn % 5 == 4) { // and some delete 5
          stmt("DELETE FROM")
          val delPos = tw.position
          val delRows = (0 until math.min(5, n)).map { k =>
            Seq[Any](id + k, dec(id + k), word(id + k))
          }
          if (mdbCompress) {
            tw.writeDeleteCompressed(42, cols, delRows, ts = ts)
            event("DELETE_ROWS_COMPRESSED_EVENT_V1")
          } else {
            tw.writeDelete(42, cols, delRows, ts = ts)
            event(s"DELETE_ROWS_EVENT$v2Suffix")
          }
          (0 until math.min(5, n)).foreach { k =>
            change(fname, delPos, k, xid, "delete", id + k, dec(id + k), word(id + k))
          }
        }
        tw.writeXid(xid, ts = ts)
        event("XID_EVENT", xid.toString)
        if (ctp) w.writeTransactionPayload(tw.toBytes, compress = txn % 2 == 0, ts = ts)
        id += n; written += n; txn += 1
      }
      if (f < nFiles) {
        w.writeRotate(f"binlog.${f + 1}%06d", ts = 1700000000L)
        event("ROTATE_EVENT")
      }
      w.save(dir.resolve(fname).toString)
    }
    Files.writeString(dir.resolve("binlog.index"),
      (1 to nFiles).map(i => f"binlog.$i%06d").mkString("", "\n", "\n"))
  }

  /** Generate (once) a rotated multi-file fixture for `sfDir` plus the
    * expected-changes/-events ground truth AND two twins of identical
    * logical content: CRC32-checksummed v1 rows under `crc/`, and the
    * full modern-server shape — ROWS_EVENT v2 + CRC32 + GTID framing —
    * under `v2/`. Returns the directory. Deterministic: same sf ->
    * byte-identical files.
    */
  def fixtureDir(sfDir: String): String = synchronized {
    val total = rowsFor(sfDir)
    generateCached(fixturePathFor(sfDir)) { staging =>
      val crcDir = staging.resolve("crc")
      val v2Dir = staging.resolve("v2")
      val fullDir = staging.resolve("full")
      Files.createDirectories(crcDir)
      Files.createDirectories(v2Dir)
      Files.createDirectories(fullDir)
      val expC = Files.newBufferedWriter(staging.resolve("expected_changes.csv"))
      val expE = Files.newBufferedWriter(staging.resolve("expected_events.csv"))
      expC.write("log_file,log_pos,log_seq,xid,_delta_type,id,val,word\n")
      expE.write("event_type,xid\n")
      writeFixture(staging, total, checksum = false, expC, expE)
      expC.close(); expE.close()
      writeFixture(crcDir, total, checksum = true, null, null)
      val expE2 = Files.newBufferedWriter(staging.resolve("expected_events_v2.csv"))
      expE2.write("event_type,xid\n")
      val expG = Files.newBufferedWriter(staging.resolve("expected_gtids.csv"))
      expG.write("log_file,kind,gno,xid\n")
      writeFixture(v2Dir, total, checksum = true, null, expE2, rowsV2 = true,
        gtid = true, expG = expG, rowsQuery = true)
      expE2.close(); expG.close()
      // binlog_row_metadata=FULL twin: the modern-server shape (v2 rows +
      // CRC32 + GTID) whose TABLE_MAPs are self-describing — cdcb10 reads
      // it WITHOUT payloadDdl
      writeFixture(fullDir, total, checksum = true, null, null, rowsV2 = true,
        gtid = true, fullMeta = true)
      // binlog_transaction_compression=ON twin: each transaction wrapped in
      // a TRANSACTION_PAYLOAD (alternating zstd / uncompressed), GTID
      // frames outer, outer events CRC32-checksummed — cdcb11's input
      val ctpDir = staging.resolve("ctp")
      Files.createDirectories(ctpDir)
      writeFixture(ctpDir, total, checksum = true, null, null, rowsV2 = true,
        gtid = true, ctp = true)
      // MariaDB twin: the shape a MariaDB 10.x server writes — v1 rows
      // events, CRC32, GTID_LIST at file head, GTID (162) frames replacing
      // BEGIN, ANNOTATE_ROWS statement text, and log_bin_compress=ON rows
      // events (166-168) on every other transaction — cdcb14/15/16's input
      val mdbDir = staging.resolve("mdb")
      Files.createDirectories(mdbDir)
      val expE3 = Files.newBufferedWriter(staging.resolve("expected_events_mdb.csv"))
      expE3.write("event_type,xid\n")
      val expG2 = Files.newBufferedWriter(staging.resolve("expected_gtids_mdb.csv"))
      expG2.write("log_file,kind,gno,xid\n")
      writeFixture(mdbDir, total, checksum = true, null, expE3, rowsV2 = false,
        gtid = true, expG = expG2, rowsQuery = true, mdb = true)
      expE3.close(); expG2.close()
      // binlog_row_value_options=PARTIAL_JSON family: JSON docs inserted
      // full, then updated via PARTIAL_UPDATE_ROWS diff sequences —
      // cdcb12's input + its generator-computed final-image ground truth
      val pjDir = staging.resolve("pj")
      Files.createDirectories(pjDir)
      writePartialJsonFixture(pjDir, math.max(total / 40, 50),
        Files.newBufferedWriter(staging.resolve("expected_partial.csv")))
      // statement-based-replication context twin: INTVAR/RAND/USER_VAR
      // framing around row transactions plus one INCIDENT between txns —
      // cdcb17's input, renderings ground-truthed by the generator
      val sbrDir = staging.resolve("sbr")
      Files.createDirectories(sbrDir)
      writeSbrFixture(sbrDir,
        Files.newBufferedWriter(staging.resolve("expected_sbr.csv")))
      // MySQL 8.4 tagged-GTID twin: GTID_TAGGED_LOG_EVENT (42) frames
      // interleaved with classic GTID frames, per-tag independent GNO
      // sequences, rotated across two files — cdcb18's input
      val tgDir = staging.resolve("tagged")
      Files.createDirectories(tgDir)
      writeTaggedFixture(tgDir,
        Files.newBufferedWriter(staging.resolve("expected_tagged.csv")))
      // schema-drift twin: one table's TABLE_MAP evolves across three
      // generations with the ALTER statements logged between them —
      // cdcb19's input (dynamic-mode scan, generator-ground-truthed rows)
      val driftDir = staging.resolve("drift")
      Files.createDirectories(driftDir)
      writeDriftFixture(driftDir,
        Files.newBufferedWriter(staging.resolve("expected_drift.csv")))
      // multi-table twin: two tables interleaved INSIDE each transaction,
      // sharing the id space (only the table name separates their rows) —
      // cdcm10's input: one reader fanning out to N maintained structures
      // total/8: the gate proves ROUTING, not volume — the per-batch
      // append cost is already measured by cdcm4/CdcAppendCostSpec, and
      // this gate pays it twice per batch
      val multiDir = staging.resolve("multi")
      Files.createDirectories(multiDir)
      writeMultiFixture(multiDir, math.max(total / 8, 500),
        Files.newBufferedWriter(staging.resolve("expected_multi.csv")))
    }
  }

  /** Schema-drift fixture: table bench.t evolves (INT) → (INT, INT) →
    * (INT, INT, VARCHAR(24)), 20 single-row transactions per generation,
    * each generation under its own table id with the ALTER between them.
    * The CSV records the generator's own rows as (id, n_cols, row_txt) —
    * a scan that decodes any generation against the wrong TABLE_MAP
    * changes a width or a value and hash-fails.
    */
  private def writeDriftFixture(dir: java.nio.file.Path, exp: java.io.Writer): Unit = {
    exp.write("id,n_cols,row_txt\n")
    val g1 = Seq(ColSpec.int)
    val g2 = Seq(ColSpec.int, ColSpec.int)
    val g3 = Seq(ColSpec.int, ColSpec.int, ColSpec.varchar(24))
    val w = new Writer(checksum = true, rowsV2 = true).writeFormatDescription(ts = 1)
    var id = 0
    def txn(tid: Long, cols: Seq[ColSpec], vals: Seq[Any], txt: String): Unit = {
      val ts = 1000L + id
      w.writeQuery("bench", "BEGIN", ts = ts)
        .writeTableMap(tid, "bench", "t", cols, ts = ts)
        .writeInsert(tid, cols, Seq(vals), ts = ts)
        .writeXid(9000L + id, ts = ts)
      exp.write(s"$id,${cols.size},$txt\n")
      id += 1
    }
    for (_ <- 0 until 20) txn(5, g1, Seq[Any](id), s"$id")
    w.writeQuery("bench", "ALTER TABLE bench.t ADD COLUMN v INT", ts = 2000)
    for (_ <- 0 until 20) txn(6, g2, Seq[Any](id, id * 10), s"$id|${id * 10}")
    w.writeQuery("bench", "ALTER TABLE bench.t ADD COLUMN w VARCHAR(24)", ts = 3000)
    for (_ <- 0 until 20) txn(7, g3, Seq[Any](id, id * 10, s"w$id"),
      s"$id|${id * 10}|w$id")
    w.save(dir.resolve("binlog.000001").toString)
    exp.close()
  }

  /** Multi-table fixture: every transaction writes BOTH `bench.d1` and
    * `bench.d2`, over the SAME id range — only the table name in the
    * TABLE_MAP separates their rows, so any routing slip (a missed
    * filter, a swapped index path) lands foreign rows in an index and
    * hash-fails its probe. Words differ per table (`word(i)` vs
    * `word(i + 7)`) and the mutation mix is asymmetric (d1 updates
    * where d2 deletes, and vice versa on the next cycle) so the two
    * latest-image sets never coincide. Rotated across two files; the
    * CSV records every change with its table for the DuckDB rebuild.
    */
  private def writeMultiFixture(dir: java.nio.file.Path, total: Int,
                                exp: java.io.Writer): Unit = {
    exp.write("log_file,log_pos,log_seq,xid,_delta_type,tbl,id,word\n")
    def change(f: String, pos: Long, seq: Int, xid: Long, dt: String,
               tbl: String, i: Int, w: String): Unit =
      exp.write(s"$f,$pos,$seq,$xid,$dt,$tbl,$i,$w\n")
    val nFiles = 2
    val perFile = total / nFiles
    var id = 0
    for (f <- 1 to nFiles) {
      val fname = f"binlog.$f%06d"
      val w = new Writer(checksum = true)
      w.writeFormatDescription(ts = 1700000000L)
      var written = 0
      var txn = 0
      while (written < perFile) {
        val n = math.min(50, perFile - written)
        val ts = 1700000000L + id / 10
        val xid = 500000L + id.toLong
        w.writeQuery("bench", "BEGIN", ts = ts)
        def insert(tid: Long, tbl: String, off: Int): Unit = {
          w.writeTableMap(tid, "bench", tbl, cols, ts = ts)
          val pos = w.position
          w.writeInsert(tid, cols,
            (0 until n).map(k => Seq[Any](id + k, dec(id + k), word(id + k + off))),
            ts = ts)
          (0 until n).foreach(k =>
            change(fname, pos, k, xid, "insert", tbl, id + k, word(id + k + off)))
        }
        insert(61, "d1", 0)
        insert(62, "d2", 7)
        def update(tid: Long, tbl: String, off: Int): Unit = {
          val m = math.min(10, n)
          w.writeTableMap(tid, "bench", tbl, cols, ts = ts)
          val pos = w.position
          w.writeUpdate(tid, cols, (0 until m).map { k =>
            (Seq[Any](id + k, dec(id + k), word(id + k + off)),
             Seq[Any](id + k, dec(id + k + 1), word(id + k + off + 1)))
          }, ts = ts)
          (0 until m).foreach { k =>
            change(fname, pos, 2 * k, xid, "update-before", tbl, id + k, word(id + k + off))
            change(fname, pos, 2 * k + 1, xid, "update", tbl, id + k, word(id + k + off + 1))
          }
        }
        def delete(tid: Long, tbl: String, off: Int, m0: Int): Unit = {
          val m = math.min(m0, n)
          w.writeTableMap(tid, "bench", tbl, cols, ts = ts)
          val pos = w.position
          w.writeDelete(tid, cols,
            (0 until m).map(k => Seq[Any](id + k, dec(id + k), word(id + k + off))),
            ts = ts)
          (0 until m).foreach(k =>
            change(fname, pos, k, xid, "delete", tbl, id + k, word(id + k + off)))
        }
        if (txn % 5 == 3) { update(61, "d1", 0); delete(62, "d2", 7, 5) }
        if (txn % 5 == 4) { delete(61, "d1", 0, 3); update(62, "d2", 7) }
        w.writeXid(xid, ts = ts)
        id += n; written += n; txn += 1
      }
      if (f < nFiles) w.writeRotate(f"binlog.${f + 1}%06d", ts = 1700000000L)
      w.save(dir.resolve(fname).toString)
    }
    Files.writeString(dir.resolve("binlog.index"),
      (1 to nFiles).map(i => f"binlog.$i%06d").mkString("", "\n", "\n"))
    exp.close()
  }

  /** Tagged-GTID fixture: 60 single-row transactions over two files,
    * cycling tag "patch" → untagged → tag "hotfix". Each (uuid, tag)
    * pair numbers its GNOs independently — exactly the property cdcb18's
    * contiguity check pins (a decoder that collapses tagged GNOs into
    * the untagged sequence, or drops the tag, hash-fails). The CSV
    * records the generator's own (file, tag, gno) per transaction;
    * "(none)" marks untagged so the empty string never round-trips
    * through CSV null handling.
    */
  private def writeTaggedFixture(dir: java.nio.file.Path, exp: java.io.Writer): Unit = {
    val cols = Seq(ColSpec.int)
    exp.write("log_file,tag,gno\n")
    val counters = scala.collection.mutable.Map("patch" -> 0L, "" -> 0L, "hotfix" -> 0L)
    var id = 0
    for (f <- 1 to 2) {
      val fname = f"binlog.$f%06d"
      val w = new Writer(checksum = true, rowsV2 = true)
        .writeFormatDescription(ts = 1700000000L,
          serverVersion = "8.4.0-graft-fixture")
        // the head declaration carries the UNTAGGED executed set only —
        // tagged resume deliberately exercises the newest-first body scan
        .writePreviousGtids(counters(""), ts = 1700000000L)
      for (t <- 0 until 30) {
        val tag = Seq("patch", "", "hotfix")(t % 3)
        val gno = counters(tag) + 1
        counters(tag) = gno
        val ts = 1700000000L + id
        if (tag.isEmpty) w.writeGtid(gno, ts = ts)
        else w.writeGtidTagged(gno, tag, ts = ts)
        exp.write(s"$fname,${if (tag.isEmpty) "(none)" else tag},$gno\n")
        w.writeQuery("bench", "BEGIN", ts = ts)
          .writeTableMap(7, "bench", "tg", cols, ts = ts)
          .writeInsert(7, cols, Seq(Seq[Any](id)), ts = ts)
          .writeXid(5000L + id, ts = ts)
        id += 1
      }
      if (f == 1) w.writeRotate("binlog.000002", ts = 1700000000L)
      w.save(dir.resolve(fname).toString)
    }
    exp.close()
  }

  /** SBR/incident fixture: 50 row transactions with deterministic
    * statement-context events woven between them, one INCIDENT mid-log.
    * The CSV holds the exact events-mode `sql` rendering per context
    * event, so decode is checked against the generator's arithmetic.
    */
  private def writeSbrFixture(dir: java.nio.file.Path, exp: java.io.Writer): Unit = {
    val cols = Seq(ColSpec.int, ColSpec.varchar(24))
    def csv(s: String): String =
      if (s.contains(",") || s.contains("\"")) "\"" + s.replace("\"", "\"\"") + "\"" else s
    exp.write("event_type,sql\n")
    val w = new Writer(checksum = true).writeFormatDescription(ts = 1)
    for (i <- 1 to 50) {
      w.writeQuery("bench", "BEGIN", ts = i)
      if (i % 2 == 0) {
        val t = if (i % 4 == 0) 1 else 2
        w.writeIntvar(t, i * 13L, ts = i)
        exp.write(s"INTVAR_EVENT,${csv(s"SET ${if (t == 1) "LAST_INSERT_ID" else "INSERT_ID"}=${i * 13}")}\n")
      }
      if (i % 3 == 0) {
        w.writeRand(i * 7L, i * 11L, ts = i)
        exp.write(s"RAND_EVENT,${csv(s"SET @@RAND_SEED1=${i * 7}, @@RAND_SEED2=${i * 11}")}\n")
      }
      if (i % 5 == 0) {
        val unsigned = i % 10 == 0
        w.writeUserVar(s"v$i", leLong(i * 1000L), valType = 2, charsetId = 63,
          unsigned = unsigned, ts = i)
        exp.write(s"USER_VAR_EVENT,${csv(s"SET @`v$i`:=${i * 1000}")}\n")
      }
      w.writeTableMap(9, "bench", "sbr", cols, ts = i)
      w.writeInsert(9, cols, Seq(Seq[Any](i, word(i))), ts = i)
      w.writeXid(i.toLong, ts = i)
      if (i == 25) {
        w.writeIncident(1, "gap after batch 25", ts = i)
        exp.write(s"INCIDENT_EVENT,${csv("#Incident: LOST_EVENTS: gap after batch 25")}\n")
      }
    }
    // LOAD DATA INFILE under statement-based replication, all three log
    // shapes. The expected rendering substitutes the filename span with
    // the transfer handle — computed HERE with independent arithmetic, so
    // the reader's fn_pos substitution is checked against the generator's.
    def loadSql(fid: Int, dup: String): (String, Int, Int) = {
      val sql = s"LOAD DATA INFILE '/tmp/load-$fid.csv' $dup INTO TABLE sbr"
      val s = sql.indexOf('\'')
      val e = sql.indexOf('\'', s + 1) + 1 // span includes both quotes
      (sql, s, e)
    }
    def expLoad(fid: Int, sql: String, s: Int, e: Int): Unit =
      exp.write(s"EXECUTE_LOAD_QUERY_EVENT,${csv(
        sql.substring(0, s) + s"<file_id:$fid>" + sql.substring(e))}\n")
    // shape 1: BEGIN-wrapped (InnoDB, mixed format) — ends at XID
    w.writeQuery("bench", "BEGIN", ts = 51)
    w.writeBeginLoadQuery(7, Array.fill(40)('a'.toByte), ts = 51)
    exp.write(s"BEGIN_LOAD_QUERY_EVENT,${csv("#Begin_load_query: file_id=7 block_len=40")}\n")
    w.writeAppendBlock(7, Array.fill(24)('b'.toByte), ts = 51)
    exp.write(s"APPEND_BLOCK_EVENT,${csv("#Append_block: file_id=7 block_len=24")}\n")
    val (sql7, s7, e7) = loadSql(7, "REPLACE")
    w.writeExecuteLoadQuery("bench", sql7, 7, s7, e7, dupHandling = 2, ts = 51)
    expLoad(7, sql7, s7, e7)
    w.writeXid(51L, ts = 51)
    // shape 2: standalone autocommit (statement format) — no BEGIN/XID
    w.writeBeginLoadQuery(8, Array.fill(32)('c'.toByte), ts = 52)
    exp.write(s"BEGIN_LOAD_QUERY_EVENT,${csv("#Begin_load_query: file_id=8 block_len=32")}\n")
    val (sql8, s8, e8) = loadSql(8, "IGNORE")
    w.writeExecuteLoadQuery("bench", sql8, 8, s8, e8, dupHandling = 1, ts = 52)
    expLoad(8, sql8, s8, e8)
    // shape 3: aborted transfer — DELETE_FILE, no execute
    w.writeBeginLoadQuery(9, Array.fill(16)('d'.toByte), ts = 53)
    exp.write(s"BEGIN_LOAD_QUERY_EVENT,${csv("#Begin_load_query: file_id=9 block_len=16")}\n")
    w.writeDeleteFile(9, ts = 53)
    exp.write(s"DELETE_FILE_EVENT,${csv("#Delete_file: file_id=9")}\n")
    w.save(dir.resolve("binlog.000001").toString)
    exp.close()
  }

  /** PARTIAL_JSON fixture: `nDocs` JSON documents inserted FULL, then the
    * even-id half updated via PARTIAL_UPDATE_ROWS diff sequences (REPLACE
    * a nested member; every 3rd also INSERTs an array element; every 5th
    * REMOVEs a member). The ground-truth CSV holds each id's expected
    * FINAL document text (md5, CSV-safe) computed by applying the same
    * diff algebra generator-side — so reader-side diff application is
    * checked against the encoder's arithmetic, not against itself.
    */
  private def writePartialJsonFixture(dir: java.nio.file.Path, nDocs: Int,
                                      exp: java.io.Writer): Unit = {
    import graft.binlog.MySqlJsonAst._
    import graft.binlog.PartialJson
    val cols = Seq(ColSpec.int, ColSpec.json)
    def docFor(i: Int): JVal = JObj(Vector(
      "id" -> JInt(i.toLong),
      "title" -> JStr(s"doc $i"),
      "tags" -> JArr(Vector(JStr("a"), JStr("b"))),
      "meta" -> JObj(Vector("views" -> JInt(i.toLong * 10), "lang" -> JStr("en")))))
    def diffsFor(i: Int): Seq[JsonDiff] =
      Seq(JsonDiff(DiffOp.Replace, "$.meta.views", Some(JInt(i.toLong * 10 + 1)))) ++
        (if (i % 3 == 0) Seq(JsonDiff(DiffOp.Insert, "$.tags[2]", Some(JStr("c")))) else Nil) ++
        (if (i % 5 == 0) Seq(JsonDiff(DiffOp.Remove, "$.meta.lang", None)) else Nil)
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"${b & 0xff}%02x").mkString
    exp.write("id,doc_md5\n")
    val w = new Writer(checksum = true, rowsV2 = true)
    w.writeFormatDescription(ts = 1700000000L, serverVersion = "8.0.36-graft-fixture")
    var i = 0
    while (i < nDocs) {
      val batch = (i until math.min(i + 50, nDocs)).toVector
      w.writeQuery("bench", "BEGIN", ts = 1700000000L)
      w.writeTableMap(43, "bench", "docs", cols, ts = 1700000000L)
      w.writeInsert(43, cols, batch.map(k => Seq[Any](k, encode(docFor(k)))),
        ts = 1700000000L)
      w.writeXid(500000L + i, ts = 1700000000L)
      val updated = batch.filter(_ % 2 == 0)
      if (updated.nonEmpty) {
        w.writeQuery("bench", "BEGIN", ts = 1700000000L)
        w.writeTableMap(43, "bench", "docs", cols, ts = 1700000000L)
        w.writePartialUpdate(43, cols, updated.map { k =>
          (Seq[Any](k, encode(docFor(k))), Seq[Any](k, PartialJson(diffsFor(k))))
        }, ts = 1700000000L)
        w.writeXid(500001L + i, ts = 1700000000L)
      }
      batch.foreach { k =>
        val finalDoc =
          if (k % 2 == 0) applyDiffs(docFor(k), diffsFor(k)) else docFor(k)
        exp.write(s"$k,${md5hex(toText(finalDoc))}\n")
      }
      i += 50
    }
    w.save(dir.resolve("binlog.000001").toString)
    exp.close()
  }

  /** Bench-only LARGE fixture tier (no ground-truth CSVs, no twins): the
    * gate fixture is ~5 MB at sf0.1, where per-job overhead dominates any
    * decode-throughput measurement. This tier sizes the byte volume to the
    * measurement instead of the sf (2M rows ≈ 50 MB across 4 files).
    */
  def benchFixtureDir(rows: Int): String = synchronized {
    generateCached(Paths.get(sys.props("java.io.tmpdir"), s"graft-binlog-r6big-$rows")) {
      staging => writeFixture(staging, rows, checksum = false, null, null)
    }
  }

  /** Cross-JVM-safe cached generation (parallel test/bench JVMs share
    * /tmp): build into a process-unique staging dir, then move atomically
    * into place. The loser of a race discards its copy; a half-written
    * shared dir can never be observed (the `_COMPLETE` marker travels
    * inside the staged tree).
    */
  private def generateCached(dir: java.nio.file.Path)
                            (build: java.nio.file.Path => Unit): String = {
    val marker = dir.resolve("_COMPLETE")
    if (!Files.exists(marker)) {
      val staging = dir.resolveSibling(
        s"${dir.getFileName}.tmp-${ProcessHandle.current().pid()}")
      deleteRecursively(staging)
      Files.createDirectories(staging)
      build(staging)
      Files.writeString(staging.resolve("_COMPLETE"), "ok")
      try Files.move(staging, dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: Exception =>
          // another JVM won (or is mid-generation): wait for its marker,
          // then discard our copy — never delete someone else's work
          val deadline = System.nanoTime() + 120L * 1000000000L
          while (!Files.exists(marker) && System.nanoTime() < deadline) Thread.sleep(100)
          deleteRecursively(staging)
          if (!Files.exists(marker))
            throw new IllegalStateException(s"binlog fixture at $dir incomplete after wait")
      }
    }
    dir.toString
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
    }

  private def changes(s: SparkSession, d: String): DataFrame =
    s.read.format("mysql-binlog")
      .option("payloadDdl", payloadDdl)
      .load(fixtureDir(d))

  // DuckDB relations over the generator-emitted ground truth; path derived
  // purely from the sf dir (order-independent — ADVICE r2)
  private def expectedChangesRel(sfDir: String): String =
    s"""read_csv('${fixturePathFor(sfDir)}/expected_changes.csv', header=true, columns={
       |  'log_file':'VARCHAR','log_pos':'BIGINT','log_seq':'INTEGER','xid':'BIGINT',
       |  '_delta_type':'VARCHAR','id':'INTEGER','val':'DOUBLE','word':'VARCHAR'})""".stripMargin
  private def expectedEventsRel(sfDir: String, file: String = "expected_events.csv"): String =
    s"""read_csv('${fixturePathFor(sfDir)}/$file', header=true, columns={
       |  'event_type':'VARCHAR','xid':'BIGINT'})""".stripMargin

  // cdcb1 — the reference's conformance query shape (`jdbc.clj:117`):
  // inserts of one table, pushed-down equality filters. `val` is cast to
  // double on both sides (DuckDB's pandas bridge hands CSV decimals over
  // as float64, so double is the comparable type).
  def cdcb1InsertScan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    changes(s, d)
      .filter($"db" === "bench" && $"table" === "big" && $"_delta_type" === "insert")
      .select($"log_file", $"log_pos", $"log_seq", $"xid", $"id",
        $"val".cast("double").as("val"), $"word")
      .orderBy($"log_file", $"log_pos", $"log_seq")
  }

  // cdcb2 — update before/after pairing survives with total order.
  def cdcb2UpdatePairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    changes(s, d)
      .filter($"_delta_type".startsWith("update"))
      .select($"log_file", $"log_pos", $"log_seq", $"_delta_type", $"id",
        $"val".cast("double").as("val"))
      .orderBy($"log_file", $"log_pos", $"log_seq")
  }

  // cdcb3 — raw event stream stats (events mode, S5/S7 surface): event
  // counts + txn count via xid.
  def cdcb3EventStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    s.read.format("mysql-binlog").option("mode", "events")
      .load(fixtureDir(d))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"), countDistinct($"xid").as("n_xids"))
      .orderBy($"event_type")
  }

  /** Numeric binlog extension for rollover-safe file ORDERING in latest-
    * image windows: lexicographic "binlog.999999" > "binlog.1000000"
    * would rank pre-rollover images as newest (same rule as
    * `CdcMaterializer.fileSeq` / `BinlogReader.fileOrdinal`); -1 for
    * non-numeric extensions, name as tiebreak.
    */
  private[operators] def fileOrd(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val ext = regexp_extract(c, "\\.([0-9]+)$", 1)
    when(ext === "", lit(-1L)).otherwise(ext.cast("long"))
  }

  /** The DuckDB mirror of [[fileOrd]] for oracle ORDER BYs. */
  private def duckFileOrd(col: String): String =
    s"COALESCE(TRY_CAST(regexp_extract($col, '\\.([0-9]+)$$', 1) AS BIGINT), -1)"

  /** Shared head of the multi-fixture oracles: latest images for one
    * table from the multi-table ground truth CSV.
    */
  private def multiLatestCtes(sfDir: String, tbl: String): String =
    s"""ranked AS (
       |  SELECT id, word, _delta_type,
       |    row_number() OVER (PARTITION BY id
       |      ORDER BY ${duckFileOrd("log_file")} DESC, log_file DESC, log_pos DESC, log_seq DESC) AS rn
       |  FROM read_csv('${fixturePathFor(sfDir)}/expected_multi.csv', header=true,
       |    columns={'log_file':'VARCHAR','log_pos':'BIGINT','log_seq':'INTEGER',
       |             'xid':'BIGINT','_delta_type':'VARCHAR','tbl':'VARCHAR',
       |             'id':'INTEGER','word':'VARCHAR'})
       |  WHERE _delta_type <> 'update-before' AND tbl = '$tbl'),
       |latest AS (SELECT id, word FROM ranked WHERE rn = 1 AND _delta_type <> 'delete')""".stripMargin

  /** One table's leg of cdcm10's oracle: latest images from the
    * multi-table ground truth filtered to `tbl`, cdcm4's text synthesis
    * and BM25 rebuild, top-50 ranked — parenthesized so two legs union.
    */
  private def multiRoutingLeg(sfDir: String, tbl: String): String =
    s"""SELECT * FROM (
       |WITH ${multiLatestCtes(sfDir, tbl)},
       |docs AS (
       |  SELECT id AS doc_id,
       |    repeat(split_part(word, '_', 1) || ' ',
       |           CAST(1 + id % 3 AS INTEGER)) || word AS text
       |  FROM latest),
       |${TextAnalysis.bm25IndexOracleCtes(cdcm4Terms, "pt.doc_id IS NOT NULL", "docs")}
       |SELECT '$tbl' AS tbl, doc_id, bm25,
       |  CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r_sparse
       |FROM sagg
       |QUALIFY r_sparse <= 50)""".stripMargin

  /** cdcm11's text leg: d1's BM25 rebuild in the heterogeneous union
    * shape (leg, key_id, score, r).
    */
  private def heteroTextLeg(sfDir: String): String =
    s"""SELECT * FROM (
       |WITH ${multiLatestCtes(sfDir, "d1")},
       |docs AS (
       |  SELECT id AS doc_id,
       |    repeat(split_part(word, '_', 1) || ' ',
       |           CAST(1 + id % 3 AS INTEGER)) || word AS text
       |  FROM latest),
       |${TextAnalysis.bm25IndexOracleCtes(cdcm4Terms, "pt.doc_id IS NOT NULL", "docs")}
       |SELECT 'text' AS leg, CAST(doc_id AS BIGINT) AS key_id, bm25 AS score,
       |  CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r
       |FROM sagg
       |QUALIFY r <= 50)""".stripMargin

  /** cdcm11's vector leg: d2's brute-force MIPS rebuild (cdcm5's stub
    * embedding replayed over the multi ground truth; probe vector =
    * smallest live id's embedding) in the union shape.
    */
  private def heteroAnnLeg(sfDir: String): String =
    s"""SELECT * FROM (
       |WITH ${multiLatestCtes(sfDir, "d2")},
       |emb AS (
       |  SELECT id AS vec_id,
       |    list_transform(generate_series(1, 8), i ->
       |      (('0x' || substr(md5(word || ':' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
       |        % 2001) - 1000) AS e
       |  FROM latest),
       |q AS (SELECT e AS qe FROM emb ORDER BY vec_id LIMIT 1),
       |sc AS (
       |  SELECT vec_id,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(list_zip(e, qe), p -> p[1] * p[2])),
       |      (x, y) -> x + y) AS BIGINT) AS dot
       |  FROM emb, q)
       |SELECT 'ann' AS leg, CAST(vec_id AS BIGINT) AS key_id,
       |  CAST(dot AS DOUBLE) AS score,
       |  CAST(row_number() OVER (ORDER BY dot DESC, vec_id) AS BIGINT) AS r
       |FROM sc
       |QUALIFY r <= 50)""".stripMargin

  /** cdcm12's dedup leg: current duplicate groups over d1's latest
    * images, keyed on the word's vocabulary prefix (the multi fixture's
    * full words are near-unique, so the prefix is what forms real
    * groups), same normalize+md5 derivation as the Spark side, in the
    * heterogeneous union shape. Group counts move with every insert,
    * delete and prefix-crossing update, so a stale fp-log row is a hash
    * failure here just as it is in cdcm6.
    */
  private def heteroFpLeg(sfDir: String): String =
    s"""SELECT * FROM (
       |WITH ${multiLatestCtes(sfDir, "d1")},
       |g AS (
       |  SELECT id,
       |    md5(trim(regexp_replace(lower(split_part(word, '_', 1)),
       |      '\\s+', ' ', 'g'))) AS fp
       |  FROM latest),
       |agg AS (
       |  SELECT fp, MIN(id) AS keeper, CAST(COUNT(*) AS DOUBLE) AS score
       |  FROM g GROUP BY fp HAVING COUNT(*) >= 2)
       |SELECT 'fp' AS leg, CAST(keeper AS BIGINT) AS key_id, score,
       |  CAST(row_number() OVER (ORDER BY keeper) AS BIGINT) AS r
       |FROM agg)""".stripMargin

  /** cdcm19's band leg: dd02's near-dup CTE chain (shingles → minhash
    * windows → bands → candidate self-join → exact Jaccard — the
    * cdcm15 oracle verbatim) replayed over d1's latest images with the
    * cdcm4 text synthesis, in the daemon gate's pair-carrying
    * (leg, key_a, key_b, score, r) shape.
    */
  private def heteroBandLeg(sfDir: String): String =
    s"""SELECT * FROM (
       |WITH ${multiLatestCtes(sfDir, "d1")},
       |docs AS (
       |  SELECT id AS doc_id,
       |    repeat(split_part(word, '_', 1) || ' ',
       |           CAST(1 + id % 3 AS INTEGER)) || word AS text
       |  FROM latest),
       |sh_t AS (SELECT doc_id, ${Dedup.duckShingles} AS sh FROM docs),
       |sig AS (SELECT doc_id, sh,
       |  md5(${Dedup.duckMinhash(0)} || '|' || ${Dedup.duckMinhash(1)}) AS band0,
       |  md5(${Dedup.duckMinhash(2)} || '|' || ${Dedup.duckMinhash(3)}) AS band1 FROM sh_t),
       |bands AS (
       |  SELECT doc_id, sh, 0 AS band_id, band0 AS h FROM sig
       |  UNION ALL
       |  SELECT doc_id, sh, 1 AS band_id, band1 AS h FROM sig),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.h = b.h AND a.doc_id < b.doc_id),
       |cut AS (
       |  SELECT doc_a, doc_b, jaccard FROM pairs
       |  WHERE jaccard >= 0.2 ORDER BY doc_a, doc_b LIMIT 500)
       |SELECT 'band' AS leg, CAST(doc_a AS BIGINT) AS key_a,
       |  CAST(doc_b AS BIGINT) AS key_b, jaccard AS score,
       |  CAST(row_number() OVER (ORDER BY doc_a, doc_b) AS BIGINT) AS r
       |FROM cut)""".stripMargin

  // cdcb4 — latest-image compaction over the change stream: final state of
  // each key after applying inserts/updates/deletes in (file, pos, seq)
  // order — the materialized-table view of the CDC stream.
  def cdcb4LatestImage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"id")
      .orderBy(fileOrd($"log_file").desc, $"log_file".desc,
        $"log_pos".desc, $"log_seq".desc)
    changes(s, d)
      .filter($"_delta_type" =!= "update-before")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"_delta_type" =!= "delete") // deleted keys drop out
      .select($"id", $"val".cast("double").as("val"), $"word")
      .orderBy($"id")
  }

  // cdcb21 — AS-OF image (time travel to a binlog coordinate): the table
  // state after applying only the changes at or before a cutoff position
  // — the capability behind "show me the table as of yesterday's
  // position" and point-in-time recovery, which a CDC engine gets for
  // free because the log IS the history. The cutoff is the MEDIAN
  // distinct (file, pos) coordinate, derived from the data itself with
  // the same truncating arithmetic on both engines (fixture regeneration
  // cannot break the gate, and the cutoff always lands strictly inside
  // the stream so the gate genuinely excludes a suffix). Positions
  // compare (fileOrd, pos) lexicographically — rollover-safe like every
  // other ordering in this file. At scale: one distinct-coordinate pass
  // (slim), a TakeOrdered cutoff probe, then cdcb4's per-key
  // latest-image window over the bounded prefix.
  def cdcb21AsofImage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ch = changes(s, d).withColumn("fo", fileOrd($"log_file"))
    val dist = ch.select($"fo", $"log_file", $"log_pos").distinct()
    val n = dist.count()
    val k = (n / 2 + 1).toInt
    val cutRow = dist.orderBy($"fo", $"log_file", $"log_pos").limit(k)
      .agg(max(struct($"fo", $"log_file", $"log_pos")).as("c"))
      .head().getStruct(0)
    val (cfo, cpos) = (cutRow.getLong(0), cutRow.getLong(2))
    val w = Window.partitionBy($"id")
      .orderBy($"fo".desc, $"log_file".desc, $"log_pos".desc, $"log_seq".desc)
    ch.filter($"fo" < cfo || ($"fo" === cfo && $"log_pos" <= cpos))
      .filter($"_delta_type" =!= "update-before")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"_delta_type" =!= "delete")
      .select($"id", $"val".cast("double").as("val"), $"word")
      .orderBy($"id")
  }

  // cdcb5 — full scan of the CRC32-checksummed twin fixture: every event
  // trailer verified + stripped in the hot path, aggregated to
  // position-independent totals the generator ground truth can oracle
  // (the checksummed twin's offsets differ — 4 bytes per event — so the
  // comparison is on content, which is identical by construction).
  def cdcb5ChecksummedScan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    s.read.format("mysql-binlog")
      .option("payloadDdl", payloadDdl)
      .load(Paths.get(fixtureDir(d), "crc").toString)
      .groupBy($"_delta_type")
      .agg(count(lit(1)).as("n_rows"),
        sum($"id".cast("long")).as("sum_id"),
        round(sum($"val".cast(DecimalType(38, 10))), 2).cast("double").as("sum_val"))
      .orderBy($"_delta_type")
  }

  // cdcb6 — full scan of the modern-server twin (ROWS_EVENT v2 + CRC32 +
  // GTID framing): the byte format a stock MySQL 5.7/8.x writes. Decode
  // shares the v1 row-body path behind the 2-byte extra-data skip; content
  // totals oracle against the same generator ground truth (offsets differ
  // from both other twins, so the comparison is position-independent).
  def cdcb6V2RowsScan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    s.read.format("mysql-binlog")
      .option("payloadDdl", payloadDdl)
      .load(Paths.get(fixtureDir(d), "v2").toString)
      .groupBy($"_delta_type")
      .agg(count(lit(1)).as("n_rows"),
        sum($"id".cast("long")).as("sum_id"),
        round(sum($"val".cast(DecimalType(38, 10))), 2).cast("double").as("sum_val"),
        countDistinct($"xid").as("n_xids"))
      .orderBy($"_delta_type")
  }

  // cdcb7 — events-mode stats over the MODERN twin: the full >= 5.6 event
  // stream — GTID/PREVIOUS_GTIDS framing and _V2 rows event names — is
  // legible and oracle-checked against the generator's event record, not
  // just spec-checked.
  def cdcb7V2EventStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    s.read.format("mysql-binlog").option("mode", "events")
      .load(Paths.get(fixtureDir(d), "v2").toString)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"), countDistinct($"xid").as("n_xids"))
      .orderBy($"event_type")
  }

  // cdcb8 — gtid_executed-style observability: fold the modern twin's GTID
  // framing into the per-file executed summary a replication operator reads
  // off SHOW MASTER STATUS — observed txn GTID range + count, contiguity
  // of the executed set, and whether the file's PREVIOUS_GTIDS declaration
  // matches what the prior files actually executed (resumes_prev). Pure
  // events-mode aggregation; ground truth is the generator's GTID record.
  def cdcb8GtidExecuted(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = s.read.format("mysql-binlog").option("mode", "events")
      .load(Paths.get(fixtureDir(d), "v2").toString)
    val g = ev.filter($"event_type" === "GTID_LOG_EVENT")
      .select($"log_file", substring_index($"gtid", ":", 1).as("source_uuid"),
        substring_index($"gtid", ":", -1).cast("long").as("gno"))
    val per = g.groupBy($"log_file", $"source_uuid")
      .agg(count(lit(1)).as("n_txns"), min($"gno").as("first_gno"),
        max($"gno").as("last_gno"),
        (max($"gno") - min($"gno") + 1 === count(lit(1))).cast("int").as("contiguous"))
    // the file's declared executed-set horizon: last GNO of the
    // PREVIOUS_GTIDS interval ("uuid:1-N" / "uuid:1"), 0 for the empty set
    val prev = ev.filter($"event_type" === "PREVIOUS_GTIDS_LOG_EVENT")
      .select($"log_file",
        when($"gtid" === "", lit(0L)) // empty executed set (first file)
          .otherwise(substring_index(substring_index($"gtid", ":", -1), "-", -1)
            .cast("long")).as("prev_end"))
    per.join(prev, "log_file")
      .select($"log_file", $"source_uuid", $"prev_end", $"first_gno", $"last_gno",
        $"n_txns", $"contiguous",
        ($"first_gno" === $"prev_end" + 1).cast("int").as("resumes_prev"))
      .orderBy($"log_file")
  }

  // cdcb9 — Debezium include.query parity: changes-mode scan with
  // `attachRowsQuery=true` over the modern twin (whose every statement is
  // preceded by a ROWS_QUERY event). The oracle derives each row's expected
  // statement text purely from the generator ground truth — n_xid_matched
  // must equal n_rows, which fails if the reader attaches a neighbor
  // statement's (or neighbor transaction's) SQL to a row.
  def cdcb9RowsQueryAttach(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val expected = concat(
      when($"_delta_type" === "insert", lit("INSERT INTO bench.big /* xid="))
        .when($"_delta_type" === "delete", lit("DELETE FROM bench.big /* xid="))
        .otherwise(lit("UPDATE bench.big /* xid=")),
      $"xid", lit(" */"))
    s.read.format("mysql-binlog")
      .option("payloadDdl", payloadDdl)
      .option("attachRowsQuery", "true")
      .load(Paths.get(fixtureDir(d), "v2").toString)
      .groupBy($"_delta_type")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct($"rows_query").as("n_statements"),
        sum(($"rows_query" === expected).cast("long")).as("n_xid_matched"))
      .orderBy($"_delta_type")
  }

  // cdcb10 — self-describing scan (binlog_row_metadata=FULL): NO payloadDdl
  // — the payload schema (names `id`, `val`, `word` and their types) comes
  // from the log's own TABLE_MAP optional metadata. The $"id"/$"val"/$"word"
  // references below fail analysis outright if auto-naming breaks; content
  // totals oracle against the generator ground truth (position-independent,
  // like the other twins).
  def cdcb10RowMetadataScan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    s.read.format("mysql-binlog")
      .option("useMetadataNames", "true")
      .option("database", "bench")
      .option("table", "big")
      .load(Paths.get(fixtureDir(d), "full").toString)
      .groupBy($"_delta_type")
      .agg(count(lit(1)).as("n_rows"),
        sum($"id".cast("long")).as("sum_id"),
        round(sum($"val".cast(DecimalType(38, 10))), 2).cast("double").as("sum_val"),
        countDistinct($"word").as("n_words"))
      .orderBy($"_delta_type")
  }

  // cdcb11 — compressed-transaction scan (binlog_transaction_compression=ON):
  // every transaction arrives as a TRANSACTION_PAYLOAD envelope (alternating
  // zstd / uncompressed payloads in this twin); the decoder re-enters the
  // event loop over the inner stream, so content totals AND transaction
  // stitching (n_xids — inner XIDs must attach to inner rows) hash-match
  // the uncompressed generator ground truth.
  def cdcb11CompressedTxnScan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    s.read.format("mysql-binlog")
      .option("payloadDdl", payloadDdl)
      .load(Paths.get(fixtureDir(d), "ctp").toString)
      .groupBy($"_delta_type")
      .agg(count(lit(1)).as("n_rows"),
        sum($"id".cast("long")).as("sum_id"),
        round(sum($"val".cast(DecimalType(38, 10))), 2).cast("double").as("sum_val"),
        countDistinct($"xid").as("n_xids"))
      .orderBy($"_delta_type")
  }

  // cdcb12 — partial-JSON final images (binlog_row_value_options=
  // PARTIAL_JSON): docs insert full, then update via diff sequences; the
  // reader applies each diff to the before-image, so the latest image per
  // id must hash-match the generator's own application of the same diffs.
  def cdcb12PartialJsonLatest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"id")
      .orderBy($"log_pos".desc, $"log_seq".desc)
    s.read.format("mysql-binlog")
      .option("payloadDdl", "id INT, doc STRING")
      .option("jsonColumns", "doc")
      .load(Paths.get(fixtureDir(d), "pj").toString)
      .filter($"_delta_type" === "insert" || $"_delta_type" === "update")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"id", md5($"doc").as("doc_md5"))
      .orderBy($"id")
  }

  // cdcb13 — latest-image compaction over the COMPRESSED twin: the final
  // state per key after applying inserts/updates/deletes in
  // (log_file, log_pos, log_seq) order, where every transaction's events
  // share ONE envelope position and seq must continue across them
  // (ChangeSeqCounter). The result is position-independent, so the same
  // ground truth that oracles cdcb4 must fall out — any mis-ordering
  // inside an envelope (e.g. a delete losing to its own transaction's
  // insert) flips rows here.
  def cdcb13CompressedLatestImage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"id")
      .orderBy(fileOrd($"log_file").desc, $"log_file".desc,
        $"log_pos".desc, $"log_seq".desc)
    s.read.format("mysql-binlog")
      .option("payloadDdl", payloadDdl)
      .load(Paths.get(fixtureDir(d), "ctp").toString)
      .filter($"_delta_type" =!= "update-before")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"_delta_type" =!= "delete")
      .select($"id", $"val".cast("double").as("val"), $"word")
      .orderBy($"id")
  }

  // cdcb14 — MariaDB GTID observability (the 162/163 body decode): fold
  // the MariaDB twin's domain-server-seq frames into the per-file executed
  // summary — seq range + count + contiguity per (file, domain, server),
  // and whether the file's GTID_LIST declaration matches what the prior
  // files actually executed (resumes_list). MariaDB's mirror of cdcb8.
  def cdcb14MariadbGtid(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = s.read.format("mysql-binlog").option("mode", "events")
      .load(Paths.get(fixtureDir(d), "mdb").toString)
    val g = ev.filter($"event_type" === "GTID_EVENT_MARIADB")
      .select($"log_file",
        split($"gtid", "-").getItem(0).cast("long").as("domain_id"),
        split($"gtid", "-").getItem(1).cast("long").as("server_id"),
        split($"gtid", "-").getItem(2).cast("long").as("seq_no"))
    val per = g.groupBy($"log_file", $"domain_id", $"server_id")
      .agg(count(lit(1)).as("n_txns"), min($"seq_no").as("first_seq"),
        max($"seq_no").as("last_seq"),
        (max($"seq_no") - min($"seq_no") + 1 === count(lit(1))).cast("int").as("contiguous"))
    // the file's declared binlog state: seq of the (single-domain fixture)
    // GTID_LIST entry, 0 for the empty list of the first file
    val lst = ev.filter($"event_type" === "GTID_LIST_EVENT_MARIADB")
      .select($"log_file",
        when($"gtid" === "", lit(0L))
          .otherwise(substring_index($"gtid", "-", -1).cast("long")).as("list_end"))
    per.join(lst, "log_file")
      .select($"log_file", $"domain_id", $"server_id", $"list_end", $"first_seq",
        $"last_seq", $"n_txns", $"contiguous",
        ($"first_seq" === $"list_end" + 1).cast("int").as("resumes_list"))
      .orderBy($"log_file")
  }

  /** cdcb15's resume point: a GTID three transactions into the SECOND file
    * (txns are 100-row batches, seq numbering global across files), so the
    * resolve path must consult GTID_LIST file-skipping AND the in-file
    * header walk. Pure in (sfDir) — the oracle derives the same number.
    */
  private def resumeGno(sfDir: String): Long = rowsFor(sfDir) / 400L + 3L

  // cdcb15 — GTID-addressed resume on a MariaDB log: startAfterGtid =
  // "0-1-K" must scan exactly the transactions with seq > K (positions
  // after the commit of txn K, mid-file-2). Content totals oracle against
  // the generator ground truth filtered by the same boundary — one row
  // too early (replaying txn K) or too late (skipping K+1) hash-fails.
  def cdcb15MariadbResume(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    s.read.format("mysql-binlog")
      .option("payloadDdl", payloadDdl)
      .option("startAfterGtid", s"0-1-${resumeGno(d)}")
      .load(Paths.get(fixtureDir(d), "mdb").toString)
      .groupBy($"_delta_type")
      .agg(count(lit(1)).as("n_rows"),
        sum($"id".cast("long")).as("sum_id"),
        round(sum($"val".cast(DecimalType(38, 10))), 2).cast("double").as("sum_val"),
        countDistinct($"xid").as("n_xids"))
      .orderBy($"_delta_type")
  }

  // cdcb16 — events-mode stats over the MariaDB twin: the full MariaDB
  // event stream — GTID/GTID_LIST framing, ANNOTATE_ROWS, and the
  // log_bin_compress rows events (166-168, zlib) — is legible and
  // oracle-checked against the generator's event record.
  def cdcb16MariadbEventStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    s.read.format("mysql-binlog").option("mode", "events")
      .load(Paths.get(fixtureDir(d), "mdb").toString)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"), countDistinct($"xid").as("n_xids"))
      .orderBy($"event_type")
  }

  // cdcb17 — statement-based-replication context + INCIDENT + LOAD DATA
  // decode under the oracle: the events-mode `sql` renderings of
  // INTVAR/RAND/USER_VAR, the incident marker, and the LOAD DATA INFILE
  // event family (BEGIN_LOAD_QUERY/APPEND_BLOCK/DELETE_FILE/
  // EXECUTE_LOAD_QUERY incl. its fn_pos filename substitution) over the
  // sbr twin, checked against the generator's own per-event record.
  def cdcb17SbrEvents(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    s.read.format("mysql-binlog").option("mode", "events")
      .load(Paths.get(fixtureDir(d), "sbr").toString)
      .filter($"event_type".isin(
        "INTVAR_EVENT", "RAND_EVENT", "USER_VAR_EVENT", "INCIDENT_EVENT",
        "BEGIN_LOAD_QUERY_EVENT", "APPEND_BLOCK_EVENT", "DELETE_FILE_EVENT",
        "EXECUTE_LOAD_QUERY_EVENT"))
      .select($"event_type", $"sql")
      .orderBy($"event_type", $"sql")
  }

  // cdcb18 — tagged-GTID observability (MySQL 8.4, event 42): fold the
  // tagged twin's frames into a per-(file, tag) executed summary — txn
  // count, gno range, and per-tag contiguity. Each (uuid, tag) numbers
  // its GNOs independently, so a decoder that collapses tagged GNOs into
  // the untagged sequence (or drops the tag from the gtid text) breaks
  // contiguity or the group keys and hash-fails against the generator's
  // own record. The tagged mirror of cdcb8/cdcb14.
  def cdcb18TaggedGtid(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val g = s.read.format("mysql-binlog").option("mode", "events")
      .load(Paths.get(fixtureDir(d), "tagged").toString)
      .filter($"event_type".isin("GTID_LOG_EVENT", "GTID_TAGGED_LOG_EVENT"))
      .select($"log_file",
        when(size(split($"gtid", ":")) === 3, split($"gtid", ":").getItem(1))
          .otherwise(lit("(none)")).as("tag"),
        substring_index($"gtid", ":", -1).cast("long").as("gno"))
    g.groupBy($"log_file", $"tag")
      .agg(count(lit(1)).as("n_txns"), min($"gno").as("first_gno"),
        max($"gno").as("last_gno"),
        (max($"gno") - min($"gno") + 1 === count(lit(1))).cast("int").as("contiguous"))
      .orderBy($"log_file", $"tag")
  }

  // cdcb19 — schema-drift scan: a real server log carries ALTER TABLE
  // statements and every rows event decodes against its OWN TABLE_MAP, so
  // the dynamic (positional) path must surface each generation at its own
  // width with its own values — never truncating new columns to the old
  // shape or failing on the DDL (typed mode fails loudly by design;
  // dynamic mode is the documented escape hatch, and this gate proves it
  // round-trips the drifted log against the generator's own record).
  def cdcb19SchemaDrift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    s.read.format("mysql-binlog")
      .load(Paths.get(fixtureDir(d), "drift").toString)
      .filter($"_delta_type" === "insert")
      .select(element_at($"row", 1).cast("long").as("id"),
        size($"row").cast("int").as("n_cols"),
        array_join($"row", "|").as("row_txt"))
      .orderBy($"id")
  }

  // cdcb22 — the TYPED twin of cdcb19: the same evolved log scanned with
  // payloadDdl declaring the NEWEST (post-both-ALTERs) schema under
  // `ddlEvolution=addColumns` — pre-ALTER prefix images null-pad their
  // trailing columns (MySQL's own read of pre-ALTER rows), the pure
  // ADD COLUMN statements pass the schema-change guard, and every
  // generation's values land typed. The oracle parses the generator's
  // own per-row record, so a decode that misaligns any generation's
  // columns (the failure null-padding could silently cause if it padded
  // anywhere but the tail) hash-fails. This is the scan-mode face of
  // the drift-resume story CdcDdlDriftResumeSpec proves for maintained
  // pipelines.
  def cdcb22DdlEvolutionScan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    s.read.format("mysql-binlog")
      .option("payloadDdl", "id INT, v INT, w STRING")
      .option("ddlEvolution", "addColumns")
      .load(Paths.get(fixtureDir(d), "drift").toString)
      .filter($"_delta_type" === "insert")
      .select($"id".cast("long").as("id"), $"v".cast("long").as("v"), $"w")
      .orderBy($"id")
  }

  // cdcm1 — the STREAMING materialization path under the oracle: run the
  // CdcMaterializer end-to-end (micro-batch source → AvailableNow stream →
  // bucketed parquet table with latest-wins merges and tombstones) over
  // the fixture, then read the final table back. The result must equal
  // the latest-image ground truth — the same oracle as cdcb4, reached
  // through the full streaming sink instead of a window query. Fresh
  // workdir per invocation: every run pays the real materialization job;
  // the PREVIOUS invocation's workdir is deleted at that point (its
  // result was consumed before the next run starts), so repeated
  // bench/gate runs hold at most one live table in /tmp.
  // one live workdir per gate slot; the last would otherwise outlive the
  // JVM in /tmp
  private val cdcmLastDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  private lazy val cdcmShutdownHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      cdcmLastDirs.values.forEach(d =>
        try deleteRecursively(d) catch { case _: Exception => () })
    }))
  /** The cdcm gates' shared workdir protocol: fresh temp dir per
    * invocation (every run pays the real streaming job), the PREVIOUS
    * invocation's dir deleted only after the new result is fully built
    * (its DataFrame was consumed before this run started), at most one
    * live dir per slot. `run` must return a result DETACHED from the
    * workdir (eager localCheckpoint): a later invocation rotates the
    * directory away, and a caller re-executing a lazy plan over it would
    * read deleted files. synchronized: concurrent invocations must not
    * race the rotation (one would delete the directory the other just
    * materialized).
    */
  private[graft] def withRotatingWorkdir(slot: String)
                                        (run: java.nio.file.Path => DataFrame): DataFrame =
    synchronized {
      cdcmShutdownHook
      val work = Files.createTempDirectory(slot)
      val out =
        try run(work)
        catch {
          // a failed run must not orphan its half-built workdir (it never
          // reaches the rotation below, and the shutdown hook only knows
          // REGISTERED dirs); the cleanup must never REPLACE the real
          // failure — a held-open checkpoint file making the delete throw
          // would otherwise mask the root cause
          case e: Throwable =>
            try deleteRecursively(work) catch { case _: Exception => () }
            throw e
        }
      val prev = cdcmLastDirs.put(slot, work)
      if (prev != null) deleteRecursively(prev)
      out
    }

  def cdcm1MaterializedTable(s: SparkSession, d: String): DataFrame =
    withRotatingWorkdir("graft-cdcm1") { work =>
      import s.implicits._
      val changes = s.readStream.format("mysql-binlog")
        .option("payloadDdl", payloadDdl)
        .load(fixtureDir(d))
      val q = graft.streaming.CdcMaterializer.materialize(
        changes, "id", work.resolve("table").toString,
        work.resolve("ckpt").toString, nBuckets = 8)
      q.awaitTermination()
      val out = graft.streaming.CdcMaterializer
        .readTable(s, work.resolve("table").toString)
        .select($"id", $"val".cast("double").as("val"), $"word")
        .orderBy($"id")
      // DETACH from the workdir (the withRotatingWorkdir contract). A
      // cache() is not enough — an evicted partition re-reads the files —
      // but an EAGER local checkpoint severs the lineage: re-execution
      // serves the checkpointed blocks and can never touch the directory
      // again. (collect + createDataFrame would also detach, but re-paying
      // external-row conversion on every execution measured ~1 s at sf0.1;
      // the checkpointed plan re-executes in milliseconds.)
      out.localCheckpoint(true).orderBy($"id")
    }

  // cdcm2 — incremental aggregate-view maintenance under the oracle: the
  // per-word COUNT(*)/SUM(val) view is maintained from the change stream
  // ALONE ([[graft.streaming.CdcMaterializer.maintainAggregate]] — signed
  // deltas, +after/-before, idempotent batch-addressed delta partitions),
  // then COMPACTED into a fresh base, then read back. The oracle
  // aggregates the latest-image ground truth instead — the two agree only
  // if every retraction, group move (an update changing `word` retracts
  // from the old group through its before image) and the compaction fold
  // are exact, which integer fixed-point sums (val scaled x10^4 into a
  // long) guarantee order-independently. The deltas-path read (before
  // compaction) is pinned equal in `CdcAggregateSpec`.
  def cdcm2IncrementalAgg(s: SparkSession, d: String): DataFrame =
    withRotatingWorkdir("graft-cdcm2") { work =>
      import s.implicits._
      val changes = s.readStream.format("mysql-binlog")
        .option("payloadDdl", payloadDdl)
        .load(fixtureDir(d))
        .withColumn("v", ($"val" * 10000).cast("long"))
      val agg = work.resolve("agg").toString
      val q = graft.streaming.CdcMaterializer.maintainAggregate(
        changes, "word", "v", agg, work.resolve("ckpt").toString)
      q.awaitTermination()
      graft.streaming.CdcMaterializer.compactAggregate(s, agg)
      graft.streaming.CdcMaterializer.readAggregate(s, agg)
        .select($"word", $"n".as("n_rows"), $"s".as("sum_val_e4"))
        .orderBy($"word")
        .localCheckpoint(true).orderBy($"word")
    }

  // cdcm3 — incremental JOIN-view maintenance under the oracle: the
  // maintained table is the VIEW `T ⋈ nation` (dimension key id % 25),
  // not T itself. With a static dimension D the view delta is exactly
  // Δ(T ⋈ D) = ΔT ⋈ D — so the change stream is enriched per micro-batch
  // with a BROADCAST hash join (work proportional to the delta, never to
  // |T| or a re-join of the full view) and the enriched deltas flow
  // through the same bucket-addressed latest-wins merge as cdcm1.
  // Update-before images join too (same key domain), so a future
  // group-moving dimension key would retract correctly. The oracle
  // recomputes the view from the latest-image ground truth joined to the
  // nation parquet — the two agree only if the per-batch join enriches
  // every surviving image with the right dimension row AND the merge
  // machinery keeps exactly the latest enriched image per key.
  def cdcm3IncrementalJoin(s: SparkSession, d: String): DataFrame =
    withRotatingWorkdir("graft-cdcm3") { work =>
      import s.implicits._
      val dim = graft.core.Tables.nation(s, d).toDF()
        .select($"n_nationkey", $"n_name")
      val changes = s.readStream.format("mysql-binlog")
        .option("payloadDdl", payloadDdl)
        .load(fixtureDir(d))
        .join(broadcast(dim), pmod($"id", lit(25)) === $"n_nationkey")
        .drop("n_nationkey")
      val q = graft.streaming.CdcMaterializer.materialize(
        changes, "id", work.resolve("table").toString,
        work.resolve("ckpt").toString, nBuckets = 8)
      q.awaitTermination()
      val out = graft.streaming.CdcMaterializer
        .readTable(s, work.resolve("table").toString)
        .select($"id", $"val".cast("double").as("val"), $"word", $"n_name")
        .orderBy($"id")
      out.localCheckpoint(true).orderBy($"id")
    }

  /** cdcm4's probe prefixes — generator-vocabulary constants (fixture
    * words are `<greek>_<n>`, so the prefix is a high-df query term).
    */
  private[graft] val cdcm4Terms = Seq("gamma", "zeta")

  /** cdcm4's bucket count: smaller than the batch-built text index's 64
    * because EVERY micro-batch writes one file set per bucket — at 64
    * the per-segment file fan-out dominates gate cost; 16 keeps probe
    * pruning (the query's 2 terms read 2/16 of postings) at a quarter
    * of the files. Build and probe share the constant, so they cannot
    * drift.
    */
  private[operators] val cdcm4Buckets = 16

  /** cdcm4's per-batch latest images: one row per key the batch touched,
    * carrying the synthesized index text, the batch id as the doc
    * VERSION (stream order makes it monotone per key — exactly the
    * contract [[graft.operators.TextAnalysis.appendCdcTextSegment]]
    * needs), and delete-ness. Within a batch the latest change wins
    * under the same rollover-safe (file ordinal, file, pos, seq) total
    * order the materializer's merge uses. The text is derived from the
    * row (`prefix` repeated 1 + id % 3 times, then the full word), so
    * dl ∈ {2..4} and tf ∈ {1..3} keep BM25 non-degenerate; the oracle
    * reproduces the same derivation in SQL from the latest images.
    */
  private[graft] def cdcm4BatchImages(batch: DataFrame, batchId: Long): DataFrame = {
    import batch.sparkSession.implicits._
    batch.filter($"_delta_type" =!= "update-before")
      .groupBy($"id")
      .agg(max(struct(
        graft.streaming.CdcMaterializer.fileSeq($"log_file").as("fo"),
        $"log_file".as("lf"), $"log_pos".as("lp"), $"log_seq".as("ls"),
        $"_delta_type".as("dt"), $"word".as("w"))).as("m"))
      .select($"id".as("doc_id"), $"m.w".as("word"),
        lit(batchId).as("ver"), ($"m.dt" === "delete").as("deleted"))
      // keep the raw word beside the synthesized text: cdcm4 indexes the
      // text, cdcm6 fingerprints the word (its dedup content column)
      .select($"doc_id", $"word",
        expr("concat(repeat(concat(substring_index(word, '_', 1), ' '), " +
          "int(1 + doc_id % 3)), word)").as("text"),
        $"ver", $"deleted")
  }

  // cdcm4 — the CDC → INDEX FRESHNESS capstone: the engine's two halves
  // fused end-to-end. A bounded-admission binlog stream (cdcb20's
  // backpressure shape — maxBytesPerTrigger forces >= 3 real
  // micro-batches) incrementally maintains a PERSISTED text index: each
  // batch folds to per-key latest images and appends one versioned
  // segment (postings + doc log) in O(batch) — nothing indexed is ever
  // re-read or re-tokenized. The probe then answers top-k BM25 through
  // the merge-on-read liveness join, and the DuckDB oracle recomputes
  // the SAME query from a full rebuild over the latest-image ground
  // truth: the two hash-match only if every update superseded its stale
  // postings, every delete's tombstone held, df/n/sumdl counted live
  // docs only, and the batch seams neither dropped nor duplicated a
  // change. This is the reference's streaming consumption story
  // (mysql_binlog.clj's queue consumer feeding a downstream view) fused
  // with the LLM-pipeline index surface — index freshness measured
  // against the log, not against a rebuild schedule.
  def cdcm4IndexFreshness(s: SparkSession, d: String): DataFrame =
    withRotatingWorkdir("graft-cdcm4") { work =>
      import s.implicits._
      val fix = fixtureDir(d)
      val totalBytes = fixtureBinlogBytes(s, fix)
      val cap = math.max(totalBytes / 4, 1L)
      val idx = work.resolve("index").toString
      val changes = s.readStream.format("mysql-binlog")
        .option("payloadDdl", payloadDdl)
        .option("maxBytesPerTrigger", cap.toString)
        .load(fix)
      val q = changes.writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // persist: the images feed postings AND the doc log (plus the
          // emptiness probe) — without it each consumer re-decodes the
          // batch's binlog span
          val imgs = cdcm4BatchImages(batch, batchId).persist()
          try {
            if (!imgs.isEmpty)
              graft.operators.TextAnalysis.appendCdcTextSegment(
                imgs, idx, f"b$batchId%06d", nBuckets = cdcm4Buckets)
          } finally imgs.unpersist()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val segs = segNames(s, s"$idx/doclog")
      require(segs.size >= 3,
        s"bounded admission degenerated (cap=$cap of $totalBytes bytes) — " +
          "the freshness gate needs >= 3 real ingest segments")
      // materialize via the publish-race guard: the by-name block
      // rebuilds AND executes the probe, so a concurrent compactor's
      // two-rename swap costs at most a bounded retry (Layout.retryOnceOnMissing)
      Layout.retryOnceOnMissing {
        graft.operators.TextAnalysis
          .bm25TopKViaCdcIndex(s, idx, cdcm4Terms, 100, nBuckets = cdcm4Buckets)
          .orderBy($"r_sparse")
          .localCheckpoint(true) // DETACH — the workdir rotates away
      }.orderBy($"r_sparse")
    }

  // cdcm7 — the index MAINTENANCE lifecycle fused with CDC ingest,
  // under the oracle: cdcm4's pipeline, but compactCdcTextIndex runs
  // MID-STREAM (between micro-batches — the real maintenance window:
  // foreachBatch bodies serialize on the driver, satisfying the
  // never-concurrent-with-ingest contract without any pause) after the
  // third appended segment, and ingest continues over the compacted
  // base for >= 2 more segments before the probe. txt18 proved
  // build→append→compact→probe for the immutable index; this proves
  // compact-UNDER-ingest for the CDC-maintained one — the steady-state
  // economics a production deployment actually runs (periodic folds
  // below continuous ingest) — by hash-matching the final probe
  // against the same full-rebuild-over-latest-images oracle as cdcm4:
  // the fold must drop exactly the superseded and tombstoned rows,
  // the two-rename publish must be invisible to the appends that
  // follow it, and post-compaction versions must supersede folded ones.
  def cdcm7CompactedIndexFreshness(s: SparkSession, d: String): DataFrame =
    withRotatingWorkdir("graft-cdcm7") { work =>
      import s.implicits._
      val fix = fixtureDir(d)
      val totalBytes = fixtureBinlogBytes(s, fix)
      // /6 (vs cdcm4's /4): the gate needs 3 pre-compaction segments
      // AND >= 2 post-compaction ones out of the same fixture
      val cap = math.max(totalBytes / 6, 1L)
      val idx = work.resolve("index").toString
      val appended = new java.util.concurrent.atomic.AtomicInteger(0)
      val changes = s.readStream.format("mysql-binlog")
        .option("payloadDdl", payloadDdl)
        .option("maxBytesPerTrigger", cap.toString)
        .load(fix)
      val q = changes.writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val imgs = cdcm4BatchImages(batch, batchId).persist()
          try {
            if (!imgs.isEmpty &&
                graft.operators.TextAnalysis.appendCdcTextSegment(
                  imgs, idx, f"b$batchId%06d", nBuckets = cdcm4Buckets) &&
                appended.incrementAndGet() == 3)
              graft.operators.TextAnalysis.compactCdcTextIndex(
                s, idx, nBuckets = cdcm4Buckets)
          } finally imgs.unpersist()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      require(appended.get() >= 5,
        s"bounded admission degenerated (cap=$cap of $totalBytes bytes, " +
          s"${appended.get()} appends) — the gate needs 3 pre-compaction " +
          "segments and >= 2 post-compaction ones")
      // the physical state must show the fold actually happened under
      // the ingest: one base segment + ONLY the post-compaction appends
      val docSegs = segNames(s, s"$idx/doclog")
      require(docSegs.contains("seg=base") &&
        docSegs.size == appended.get() - 3 + 1,
        s"expected seg=base + ${appended.get() - 3} ingest segments, got $docSegs")
      Layout.retryOnceOnMissing {
        graft.operators.TextAnalysis
          .bm25TopKViaCdcIndex(s, idx, cdcm4Terms, 100, nBuckets = cdcm4Buckets)
          .orderBy($"r_sparse")
          .localCheckpoint(true) // DETACH — the workdir rotates away
      }.orderBy($"r_sparse")
    }

  // cdcm14 — RE-BUCKET-under-ingest: the bucket-count lifecycle op run
  // where it runs in production, under the live stream. cdcm7's
  // pipeline, but after the third appended segment the maintenance
  // window re-buckets the index 4× (TextAnalysis.rebucketCdcTextIndex —
  // subsumes the fold: live-only base, replay fence, lease, two-rename)
  // and ingest continues for >= 2 more segments. The appender is
  // MARKER-DRIVEN — each batch buckets by the index's RECORDED count
  // (`_nbuckets`, written by the first append, updated by the
  // re-bucket), which is the production pattern the marker enables: the
  // ingest job picks up the grown layout without a redeploy, and a
  // stale-count append would have failed by name instead of writing
  // unsearchable rows. The gate pins the marker at the grown count, the
  // post-rebucket-only segment layout, postings actually occupying the
  // grown bucket range, and then the probe at the grown count
  // hash-matches cdcm4's full-rebuild oracle verbatim — bucketing is
  // pure physical placement, so any score drift means the re-bucket
  // lost, duplicated or mis-bucketed postings.
  def cdcm14RebucketedTextFreshness(s: SparkSession, d: String): DataFrame =
    withRotatingWorkdir("graft-cdcm14") { work =>
      import s.implicits._
      val fix = fixtureDir(d)
      val totalBytes = fixtureBinlogBytes(s, fix)
      // /6, cdcm7's recipe: 3 pre-rebucket segments AND >= 2 post ones
      val cap = math.max(totalBytes / 6, 1L)
      val idx = work.resolve("index").toString
      val appended = new java.util.concurrent.atomic.AtomicInteger(0)
      val grown = 4 * cdcm4Buckets
      val changes = s.readStream.format("mysql-binlog")
        .option("payloadDdl", payloadDdl)
        .option("maxBytesPerTrigger", cap.toString)
        .load(fix)
      val q = changes.writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val imgs = cdcm4BatchImages(batch, batchId).persist()
          try {
            if (!imgs.isEmpty) {
              val nb = graft.operators.TextAnalysis
                .textIndexBucketCount(s, idx).getOrElse(cdcm4Buckets)
              if (graft.operators.TextAnalysis.appendCdcTextSegment(
                    imgs, idx, f"b$batchId%06d", nBuckets = nb) &&
                  appended.incrementAndGet() == 3)
                graft.operators.TextAnalysis.rebucketCdcTextIndex(s, idx, grown)
            }
          } finally imgs.unpersist()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      require(appended.get() >= 5,
        s"bounded admission degenerated (cap=$cap of $totalBytes bytes, " +
          s"${appended.get()} appends) — the gate needs 3 pre-rebucket " +
          "segments and >= 2 post-rebucket ones")
      require(graft.operators.TextAnalysis.textIndexBucketCount(s, idx)
          .contains(grown),
        "the re-bucket did not update the recorded bucket count")
      val docSegs = segNames(s, s"$idx/doclog")
      require(docSegs.contains("seg=base") &&
        docSegs.size == appended.get() - 3 + 1,
        s"expected seg=base + ${appended.get() - 3} post-rebucket segments, got $docSegs")
      // the grown range is in PHYSICAL use (a re-bucket that kept the
      // old hash would still pass the probe — directories don't lie)
      val baseP = new org.apache.hadoop.fs.Path(s"$idx/postings/seg=base")
      val tbs = baseP.getFileSystem(s.sparkContext.hadoopConfiguration)
        .listStatus(baseP).map(_.getPath.getName)
        .filter(_.startsWith("tb=")).map(_.stripPrefix("tb=").toInt)
      require(tbs.exists(_ >= cdcm4Buckets),
        s"re-bucketing left every posting inside the old bucket range: ${tbs.toSeq.sorted}")
      Layout.retryOnceOnMissing {
        graft.operators.TextAnalysis
          .bm25TopKViaCdcIndex(s, idx, cdcm4Terms, 100, nBuckets = grown)
          .orderBy($"r_sparse")
          .localCheckpoint(true) // DETACH — the workdir rotates away
      }.orderBy($"r_sparse")
    }

  // cdcm16 — POLICY-triggered maintenance: cdcm14 folds on a hardcoded
  // schedule ("after the 3rd append"); here the SCHEDULE itself is the
  // executable policy (TextAnalysis.textMaintenanceAdvice over the AA8
  // stats) — after every append the stats are measured and the fold
  // runs iff the advice fires, at the advice's own suggested count. The
  // index starts deliberately undersized (2 buckets) so the policy has
  // real pressure to act on: the probe-read budget is a quarter of the
  // live postings, which a 2-bucket layout always violates, so the
  // advice fires on the first measured append and re-buckets to its
  // suggested count; any later skew past the budget re-fires it. The
  // gate pins that the policy fired, that the recorded marker equals
  // the advice's LAST suggestion, that the post-stream advice under the
  // same budget rule is healthy (every append is followed by a check,
  // so an end state needing maintenance cannot survive), and the probe
  // at the recorded count hash-matches cdcm4's full-rebuild oracle —
  // the maintenance loop is closed end-to-end with no human in it.
  def cdcm16PolicyRebucketFreshness(s: SparkSession, d: String): DataFrame =
    withRotatingWorkdir("graft-cdcm16") { work =>
      import s.implicits._
      val fix = fixtureDir(d)
      val totalBytes = fixtureBinlogBytes(s, fix)
      val cap = math.max(totalBytes / 6, 1L)
      val idx = work.resolve("index").toString
      val appended = new java.util.concurrent.atomic.AtomicInteger(0)
      val fired = new java.util.concurrent.atomic.AtomicInteger(0)
      val lastSuggested = new java.util.concurrent.atomic.AtomicInteger(2)
      // one stats pass per decision (guide §1.2): the previous two-step
      // form (agg for the budget + advice's own collect) ran the full
      // index measurement twice per call
      def advice() = graft.operators.TextAnalysis.cdcTextIndexAdvice(s, idx)
      val changes = s.readStream.format("mysql-binlog")
        .option("payloadDdl", payloadDdl)
        .option("maxBytesPerTrigger", cap.toString)
        .load(fix)
      val q = changes.writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val imgs = cdcm4BatchImages(batch, batchId).persist()
          try {
            val nb = graft.operators.TextAnalysis
              .textIndexBucketCount(s, idx).getOrElse(2)
            if (!imgs.isEmpty &&
                graft.operators.TextAnalysis.appendCdcTextSegment(
                  imgs, idx, f"b$batchId%06d", nBuckets = nb)) {
              appended.incrementAndGet()
              // fold until the policy is satisfied (a growth step cures
              // projected MEAN, residual skew may demand one more); the
              // suggested-count-must-grow guard terminates the loop even
              // against a single unsplittable hot term at the 2^20 cap
              var a = advice()
              while (a.rebucket && a.suggestedBuckets > lastSuggested.get()) {
                fired.incrementAndGet()
                lastSuggested.set(a.suggestedBuckets)
                graft.operators.TextAnalysis.rebucketCdcTextIndex(
                  s, idx, a.suggestedBuckets)
                a = advice()
              }
            }
          } finally imgs.unpersist()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      require(appended.get() >= 5,
        s"bounded admission degenerated (cap=$cap of $totalBytes bytes, " +
          s"${appended.get()} appends)")
      require(fired.get() >= 1,
        "the maintenance policy never fired — the planted 2-bucket " +
          "pressure should violate a quarter-of-postings budget")
      require(graft.operators.TextAnalysis.textIndexBucketCount(s, idx)
          .contains(lastSuggested.get()),
        s"recorded marker != the policy's last suggestion ${lastSuggested.get()}")
      val endState = advice()
      require(!endState.rebucket,
        s"the closed loop left maintenance owing at stream end: $endState")
      Layout.retryOnceOnMissing {
        graft.operators.TextAnalysis
          .bm25TopKViaCdcIndex(s, idx, cdcm4Terms, 100,
            nBuckets = lastSuggested.get())
          .orderBy($"r_sparse")
          .localCheckpoint(true) // DETACH — the workdir rotates away
      }.orderBy($"r_sparse")
    }

  /** cdcm5's stub encoder, columnar: component i = first 4 bytes of
    * md5(word ‖ ':' ‖ i) mod 2001, shifted to [-1000, 1000] — the mm10
    * idiom (integer embeddings, DuckDB replays the exact values). An
    * UPDATE changes the word and therefore the vector, so supersession
    * is observable in search results.
    */
  private def cdcm5Embedding(
      word: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array((1 to 8).map { i =>
      conv(substring(md5(concat(word, lit(s":$i"))), 1, 8), 16, 10)
        .cast("long") % 2001 - 1000
    }: _*)

  /** The ANN gates' shared probe-vector derivation: the smallest live
    * id's embedding, read back from the index ITSELF (one slim row to
    * the driver) through the committed doclog+cells view — the SAME
    * [[Layout.committedView]] read every probe and stats call takes,
    * retried across a publish swap. Raw single-leg reads
    * of a maintained index belong to the folds' own internals only
    * (they run under the fold lease, where the leg set cannot move).
    */
  private def annProbeVector(s: SparkSession, indexDir: String): Seq[Long] = {
    import s.implicits._
    Layout.retryOnceOnMissing {
      val view = Layout.committedView(s, indexDir, Similarity.cdcAnnLegs)
        .getOrElse(Layout.missingIndex(indexDir))
      val live = view.read("doclog").groupBy($"vec_id")
        .agg(max(struct($"ver", $"deleted")).as("m"))
        .select($"vec_id", $"m.ver".as("ver"), $"m.deleted".as("deleted"))
        .filter(!$"deleted")
      view.read("cells").join(live.select($"vec_id", $"ver"), Seq("vec_id", "ver"))
        .orderBy($"vec_id").select($"embedding")
        .head().getSeq[Long](0) // <= 1 slim row — materializes INSIDE the retry
    }
  }

  private[graft] def cdcm5BatchImages(batch: DataFrame, batchId: Long): DataFrame = {
    import batch.sparkSession.implicits._
    batch.filter($"_delta_type" =!= "update-before")
      .groupBy($"id")
      .agg(max(struct(
        graft.streaming.CdcMaterializer.fileSeq($"log_file").as("fo"),
        $"log_file".as("lf"), $"log_pos".as("lp"), $"log_seq".as("ls"),
        $"_delta_type".as("dt"), $"word".as("w"))).as("m"))
      .select($"id".as("vec_id"), cdcm5Embedding($"m.w").as("embedding"),
        lit(batchId).as("ver"), ($"m.dt" === "delete").as("deleted"))
  }

  // cdcm5 — CDC-maintained ANN index, cdcm4's dense twin: the same
  // bounded-admission change stream maintains an IVF vector index
  // (first batch defines the coarse quantizer; every batch's latest
  // images land as one versioned cell-partitioned segment in O(batch)),
  // and the probe — exact integer inner product through the
  // merge-on-read liveness join — is hash-compared against DuckDB's
  // brute-force scan over the latest-image ground truth. The probe
  // vector is itself derived from the index (the smallest live id's
  // embedding), so the gate is self-contained and regeneration-proof.
  // Together with cdcm4 this closes the retrieval story: a row changed
  // in MySQL is searchable — sparse and dense — after its micro-batch,
  // with staleness impossible by construction rather than bounded by a
  // rebuild schedule.
  def cdcm5AnnFreshness(s: SparkSession, d: String): DataFrame =
    withRotatingWorkdir("graft-cdcm5") { work =>
      import s.implicits._
      val fix = fixtureDir(d)
      val totalBytes = fixtureBinlogBytes(s, fix)
      val cap = math.max(totalBytes / 4, 1L)
      val idx = work.resolve("annindex").toString
      val changes = s.readStream.format("mysql-binlog")
        .option("payloadDdl", payloadDdl)
        .option("maxBytesPerTrigger", cap.toString)
        .load(fix)
      val q = changes.writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val imgs = cdcm5BatchImages(batch, batchId).persist()
          try {
            if (!imgs.isEmpty)
              graft.operators.Similarity.appendCdcAnnSegment(
                imgs, idx, f"b$batchId%06d")
          } finally imgs.unpersist()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val segs = segNames(s, s"$idx/doclog")
      require(segs.size >= 3,
        s"bounded admission degenerated (cap=$cap of $totalBytes bytes) — " +
          "the ANN freshness gate needs >= 3 real ingest segments")
      // probe vector: the smallest live id's embedding, read back from
      // the index itself (one slim row to the driver)
      val probeVec = annProbeVector(s, idx)
      Layout.retryOnceOnMissing {
        graft.operators.Similarity
          .mipsTopKViaCdcAnnIndex(s, idx, probeVec, 100)
          .orderBy($"r_dense")
          .localCheckpoint(true) // DETACH — the workdir rotates away
      }
        .orderBy($"r_dense")
    }

  // cdcm8 — cdcm7's ANN twin: compact-UNDER-ingest for the CDC-
  // maintained vector index, under the oracle. cdcm5's pipeline, but
  // compactCdcAnnIndex runs MID-STREAM after the third appended
  // segment (foreachBatch bodies serialize on the driver — the real
  // maintenance window) and ingest continues for >= 2 more segments
  // before the probe. The fold keeps cell assignments (made under the
  // persisted quantizer, which only a rebuild replaces) while dropping
  // superseded and tombstoned versions; the whole-index two-rename
  // publish must be invisible to the appends that follow it — the very
  // next batch re-reads the centroids THROUGH the published path — and
  // the final exact-MIPS probe hash-matches cdcm5's brute-force oracle
  // over the latest-image ground truth.
  def cdcm8CompactedAnnFreshness(s: SparkSession, d: String): DataFrame =
    withRotatingWorkdir("graft-cdcm8") { work =>
      import s.implicits._
      val fix = fixtureDir(d)
      val totalBytes = fixtureBinlogBytes(s, fix)
      // /6 (vs cdcm5's /4): 3 pre-compaction segments AND >= 2
      // post-compaction ones out of the same fixture (the cdcm7 recipe)
      val cap = math.max(totalBytes / 6, 1L)
      val idx = work.resolve("annindex").toString
      val appended = new java.util.concurrent.atomic.AtomicInteger(0)
      val changes = s.readStream.format("mysql-binlog")
        .option("payloadDdl", payloadDdl)
        .option("maxBytesPerTrigger", cap.toString)
        .load(fix)
      val q = changes.writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val imgs = cdcm5BatchImages(batch, batchId).persist()
          try {
            if (!imgs.isEmpty &&
                graft.operators.Similarity.appendCdcAnnSegment(
                  imgs, idx, f"b$batchId%06d") &&
                appended.incrementAndGet() == 3)
              graft.operators.Similarity.compactCdcAnnIndex(s, idx)
          } finally imgs.unpersist()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      require(appended.get() >= 5,
        s"bounded admission degenerated (cap=$cap of $totalBytes bytes, " +
          s"${appended.get()} appends) — the gate needs 3 pre-compaction " +
          "segments and >= 2 post-compaction ones")
      // physical state: the fold happened under the ingest — one base
      // segment + ONLY the post-compaction appends, in BOTH layouts
      for (leg <- Seq("doclog", "cells")) {
        val segs = segNames(s, s"$idx/$leg")
        require(segs.contains("seg=base") &&
          segs.size == appended.get() - 3 + 1,
          s"$leg: expected seg=base + ${appended.get() - 3} ingest segments, got $segs")
      }
      // probe vector: the smallest live id's embedding, read back from
      // the index itself (one slim row to the driver — cdcm5's shape)
      val probeVec = annProbeVector(s, idx)
      Layout.retryOnceOnMissing {
        graft.operators.Similarity
          .mipsTopKViaCdcAnnIndex(s, idx, probeVec, 100)
          .orderBy($"r_dense")
          .localCheckpoint(true) // DETACH — the workdir rotates away
      }
        .orderBy($"r_dense")
    }

  // cdcm13 — REQUANTIZE-UNDER-INGEST, under the oracle: the
  // quantizer-drift lifecycle op cdcm8 deliberately does not run.
  // cdcm5's pipeline builds the CDC ANN index (the FIRST batch defines
  // the coarse quantizer — by the third the corpus has grown and
  // churned past it); after the third appended segment —
  // foreachBatch bodies serialize on the driver, the real maintenance
  // window — Similarity.requantizeCdcAnnIndex re-derives centroids from
  // the CURRENT live corpus and re-assigns every live vector through
  // the same lease + fence + two-rename protocol as the folds, and
  // ingest then CONTINUES for >= 2 more segments whose appends assign
  // against the rebuilt quantizer re-read THROUGH the published path.
  // The gate pins the physical contract (seg=base + only the
  // post-requantize appends in both layouts, the replay fence at the
  // third batch's ordinal, and the centroid table actually CHANGED —
  // a requantize that silently kept the stale quantizer would pass any
  // probe-only check) and then hash-compares the exact-MIPS probe
  // against the same brute-force DuckDB oracle as cdcm5: exact-probe
  // results are invariant to the partition by construction, so a
  // mismatch means the rebuild or the post-rebuild appends lost,
  // duplicated or mis-assigned vectors. Pruned-probe recall under the
  // new quantizer changes BY DESIGN and is spec territory
  // (CdcAnnIndexSpec), not oracle territory.
  def cdcm13RequantizedAnnFreshness(s: SparkSession, d: String): DataFrame =
    withRotatingWorkdir("graft-cdcm13") { work =>
      import s.implicits._
      val fix = fixtureDir(d)
      val totalBytes = fixtureBinlogBytes(s, fix)
      // /6, the cdcm8 recipe: 3 pre-requantize segments AND >= 2
      // post-requantize ones out of the same fixture
      val cap = math.max(totalBytes / 6, 1L)
      val idx = work.resolve("annindex").toString
      val appended = new java.util.concurrent.atomic.AtomicInteger(0)
      val centBefore =
        new java.util.concurrent.atomic.AtomicReference[Seq[String]](null)
      val fenceAt = new java.util.concurrent.atomic.AtomicLong(-1L)
      def centroidPrint(): Seq[String] =
        s.read.parquet(s"$idx/centroids")
          .orderBy($"cell").collect().map(_.toString).toSeq
      val changes = s.readStream.format("mysql-binlog")
        .option("payloadDdl", payloadDdl)
        .option("maxBytesPerTrigger", cap.toString)
        .load(fix)
      val q = changes.writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val imgs = cdcm5BatchImages(batch, batchId).persist()
          try {
            if (!imgs.isEmpty &&
                graft.operators.Similarity.appendCdcAnnSegment(
                  imgs, idx, f"b$batchId%06d") &&
                appended.incrementAndGet() == 3) {
              // the first batch's quantizer, fingerprinted right before
              // the rebuild (k rows — bounded by the quantizer)
              centBefore.set(centroidPrint())
              fenceAt.set(batchId)
              graft.operators.Similarity.requantizeCdcAnnIndex(s, idx)
            }
          } finally imgs.unpersist()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      require(appended.get() >= 5,
        s"bounded admission degenerated (cap=$cap of $totalBytes bytes, " +
          s"${appended.get()} appends) — the gate needs 3 pre-requantize " +
          "segments and >= 2 post-requantize ones")
      // physical contract: the rebuild folded everything it consumed
      // (lone base + ONLY the post-requantize appends, in BOTH layouts),
      // fence at the third batch, NEW centroids
      for (leg <- Seq("doclog", "cells")) {
        val segs = segNames(s, s"$idx/$leg")
        require(segs.contains("seg=base") &&
          segs.size == appended.get() - 3 + 1,
          s"$leg: expected seg=base + ${appended.get() - 3} post-requantize " +
            s"segments, got $segs")
      }
      val root = new org.apache.hadoop.fs.Path(idx)
      val fence = Layout.foldedThrough(
        root.getFileSystem(s.sparkContext.hadoopConfiguration), root)
      require(fence.contains(fenceAt.get()),
        s"replay fence $fence != the requantize point ${fenceAt.get()} — a " +
          "replayed pre-requantize batch would re-enter under the new quantizer")
      require(centroidPrint() != centBefore.get(),
        "requantize kept the first batch's centroids — the quantizer was not rebuilt")
      // probe vector: the smallest live id's embedding, read back from
      // the REQUANTIZED index (one slim row to the driver — cdcm5's shape)
      val probeVec = annProbeVector(s, idx)
      Layout.retryOnceOnMissing {
        graft.operators.Similarity
          .mipsTopKViaCdcAnnIndex(s, idx, probeVec, 100)
          .orderBy($"r_dense")
          .localCheckpoint(true) // DETACH — the workdir rotates away
      }
        .orderBy($"r_dense")
    }

  // cdcm17 — POLICY-triggered requantize: cdcm16's ANN twin. The index
  // starts deliberately tiny (k=2 first-batch quantizer) so the GROWTH
  // trigger (live > 4k², the √n-cells rule) has real pressure from the
  // first batches; after every append the gate measures
  // cdcAnnIndexStats and requantizes iff annMaintenanceAdvice fires, at
  // the advice's own min(⌈√n⌉, maxK) suggested k, looping while the
  // advice can still suggest growth. The gate passes skewRatio=∞: Lloyd
  // over the
  // md5-pseudo-random stub embeddings has no deterministic skew bound
  // across scale factors, while the growth arithmetic is exact at every
  // SF — skew firing-and-clearing is MaintenancePolicySpec's planted-
  // layout territory. Pins: the policy fired, the post-stream advice
  // under the same rule owes nothing, the quantizer genuinely grew past
  // its planted k, and the exact-MIPS probe hash-matches the same
  // brute-force DuckDB oracle as cdcm5/cdcm13 (exact probes are
  // invariant to the cell partition, so any lost/duplicated/mis-assigned
  // vector across the policy's requantizes breaks the hash).
  def cdcm17PolicyRequantizeFreshness(s: SparkSession, d: String): DataFrame =
    withRotatingWorkdir("graft-cdcm17") { work =>
      import s.implicits._
      val fix = fixtureDir(d)
      val totalBytes = fixtureBinlogBytes(s, fix)
      val cap = math.max(totalBytes / 6, 1L)
      val idx = work.resolve("annindex").toString
      val appended = new java.util.concurrent.atomic.AtomicInteger(0)
      val fired = new java.util.concurrent.atomic.AtomicInteger(0)
      val lastK = new java.util.concurrent.atomic.AtomicInteger(2)
      // maxK = 32: the deployment's quantizer budget (the production
      // knob annMaintenanceAdvice documents). Without it the √n rule at
      // sf0.1 demands k~400, and since EVERY per-batch cost scales with
      // k (append assignment, stats, the Lloyd rebuild), the gate would
      // measure an uncapped-budget deployment nobody would run — the
      // policy semantics pinned here (fire → fold at the suggestion →
      // converge to healthy) are identical at any cap
      def advice() = graft.operators.Similarity.annMaintenanceAdvice(
        graft.operators.Similarity.cdcAnnIndexStats(s, idx),
        skewRatio = Double.MaxValue, maxK = 32)
      val changes = s.readStream.format("mysql-binlog")
        .option("payloadDdl", payloadDdl)
        .option("maxBytesPerTrigger", cap.toString)
        .load(fix)
      val q = changes.writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val imgs = cdcm5BatchImages(batch, batchId).persist()
          try {
            if (!imgs.isEmpty &&
                graft.operators.Similarity.appendCdcAnnSegment(
                  imgs, idx, f"b$batchId%06d", k = 2)) {
              appended.incrementAndGet()
              // fold until the policy is satisfied; the must-grow guard
              // terminates even if empty-cell drops shrink the published
              // quantizer below the requested k
              var a = advice()
              while (a.requantize && a.suggestedK > lastK.get()) {
                fired.incrementAndGet()
                lastK.set(a.suggestedK)
                graft.operators.Similarity.requantizeCdcAnnIndex(
                  s, idx, k = a.suggestedK)
                a = advice()
              }
            }
          } finally imgs.unpersist()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      require(appended.get() >= 5,
        s"bounded admission degenerated (cap=$cap of $totalBytes bytes, " +
          s"${appended.get()} appends)")
      require(fired.get() >= 1,
        "the maintenance policy never fired — the planted k=2 quantizer " +
          "should violate live > 4k² within the first batches")
      val endState = advice()
      require(!endState.requantize,
        s"the closed loop left maintenance owing at stream end: $endState")
      val cellsNow = s.read.parquet(s"$idx/centroids").count()
      require(cellsNow > 2,
        s"the quantizer never grew past its planted k=2 ($cellsNow cells)")
      val probeVec = annProbeVector(s, idx)
      Layout.retryOnceOnMissing {
        graft.operators.Similarity
          .mipsTopKViaCdcAnnIndex(s, idx, probeVec, 100)
          .orderBy($"r_dense")
          .localCheckpoint(true) // DETACH — the workdir rotates away
      }
        .orderBy($"r_dense")
    }

  // cdcm6 — CDC-maintained DEDUP state, the third freshness leg (text
  // cdcm4, vectors cdcm5, duplicates here): each micro-batch appends a
  // slim versioned fingerprint log (doc_id, ver, deleted, fp =
  // md5(normalized synthesized text) — dd01's exact-dedup key, shared
  // derivation), and the probe reads CURRENT duplicate groups through
  // the same doc-log argmax: groups of size >= 2 among live latest
  // images, keeper = min doc_id (dd01's convention). A row UPDATE moves
  // its doc between groups, a DELETE shrinks its group — both visible
  // at the next batch without ever re-reading earlier state (append is
  // O(batch): the fp is 16 bytes per touched key). The oracle
  // recomputes the groups from the latest-image ground truth. At 100 TB
  // the fp log IS the dedup index: one slim argmax + one fp shuffle per
  // report, compacted by [[compactCdcFpLog]] when segment count grows.
  def cdcm6DedupFreshness(s: SparkSession, d: String): DataFrame =
    withRotatingWorkdir("graft-cdcm6") { work =>
      import s.implicits._
      val fix = fixtureDir(d)
      val totalBytes = fixtureBinlogBytes(s, fix)
      val cap = math.max(totalBytes / 4, 1L)
      val log = work.resolve("fplog").toString
      val changes = s.readStream.format("mysql-binlog")
        .option("payloadDdl", payloadDdl)
        .option("maxBytesPerTrigger", cap.toString)
        .load(fix)
      val q = changes.writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val imgs = cdcm4BatchImages(batch, batchId)
            // dd01's exact-dedup key over the row's content column (the
            // word — the synthesized cdcm4 text mixes in id, which would
            // make every doc trivially unique)
            .withColumn("fp", md5(TextAnalysis.normalize($"word")))
            .select($"doc_id", $"ver", $"deleted", $"fp")
            .coalesce(4)
            .persist()
          // mirror cdcm4/cdcm5: an EMPTY micro-batch must not mint a
          // seg= directory — it would count toward the ">= 3 real
          // ingest segments" admission proof as a degenerate segment
          try {
            if (!imgs.isEmpty)
              appendCdcFpSegment(imgs, log, f"b$batchId%06d")
          } finally imgs.unpersist()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val segs = segNames(s, log)
      require(segs.size >= 3,
        s"bounded admission degenerated (cap=$cap of $totalBytes bytes)")
      Layout.retryOnceOnMissing {
        cdcFpGroups(s, log)
          .localCheckpoint(true) // DETACH — the workdir rotates away
      }.orderBy($"keeper_doc_id")
    }

  /** A state log is one leg: its `seg=` segments sit directly under its
    * root. Every report, probe, stats call and fold reads the log
    * through [[Layout.committedView]], so a torn or in-flight append is
    * invisible to all of them, and an absent or not-yet-committed log
    * answers empty (None) instead of an AnalysisException ("unknown doc
    * probes empty" holds even before the first committed batch).
    */
  private val logLegs = Seq("")

  /** Current duplicate groups from a cdcm6 fingerprint log: doc-log
    * argmax to the latest version per doc, live rows only, then group
    * by fingerprint (keeper = min doc_id, dd01's convention). The one
    * corpus-proportional step is the argmax over the log — bounded by
    * [[compactCdcFpLog]] in steady state.
    */
  private[graft] def cdcFpGroups(s: SparkSession, logDir: String): DataFrame = {
    import s.implicits._
    Layout.committedView(s, logDir, logLegs).map(_.read("")).getOrElse(
        return Seq.empty[(String, Long, Long)]
          .toDF("fp", "keeper_doc_id", "n_docs"))
      .groupBy($"doc_id")
      .agg(max(struct($"ver", $"deleted", $"fp")).as("m"))
      .select($"doc_id", $"m.deleted".as("deleted"), $"m.fp".as("fp"))
      .filter(!$"deleted")
      .groupBy($"fp")
      .agg(min($"doc_id").as("keeper_doc_id"), count(lit(1)).as("n_docs"))
      .filter($"n_docs" >= 2)
      .orderBy($"keeper_doc_id")
  }

  /** The bounded broadcast-size gate shared by every screening probe:
    * true iff `ids` holds at most `cap` rows — for caps below
    * Int.MaxValue - 1; the limit arithmetic clamps there, so a cap at
    * or past 2^31 can report under-cap for a larger set (any such cap
    * is an absurd broadcast intent anyway — rows alone would exceed the
    * 512M-row broadcast hard cap). The `limit(cap + 1)` bounds the
    * COUNT job's result (the count can never materialize more than
    * cap+1 rows); the aggregation feeding `ids` (a distinct, an argmax)
    * still scans its own filtered input — the limit is a result bound,
    * not a scan bound. cap = 0 is a valid "never hint" setting (the
    * shuffle-fallback specs use it); negative caps are a caller error
    * named here rather than an opaque limit(-n) failure.
    */
  private def underCap(ids: DataFrame, cap: Long): Boolean = {
    require(cap >= 0,
      s"maxBroadcastCandidates must be >= 0 (got $cap); use 0 to force " +
        "the shuffle path, never a negative")
    ids.limit(math.min(cap, Int.MaxValue - 1L).toInt + 1).count() <= cap
  }

  /** Exact-duplicate partners of ONE doc from the fp log — the
    * ingest-time screening probe, the exact-dup twin of
    * [[cdcNearDupProbe]] ([[cdcFpGroups]] recomputes every group; the
    * production question is usually "is THIS doc a duplicate of
    * anything live"). Fingerprint-pruned in two phases so the corpus
    * never shuffles: (1) the target's live fp is an argmax over ITS OWN
    * versions (doc_id pushdown — nothing corpus-sized); (2) candidates
    * are docs with ANY version carrying that fp (a pushed string
    * equality — parquet dictionary/stats prune the scan), and the
    * liveness argmax runs over the CANDIDATES' rows only, so a doc that
    * merely USED to carry the fp (superseded away) is admitted to the
    * argmax and then correctly rejected by its latest image. Returns
    * the live partner doc_ids; empty for a deleted, unknown, or unique
    * doc — or for a log with no committed segments yet (reads go
    * through [[Layout.committedView]], so a torn in-flight append is as
    * invisible to the probe as it is to [[cdcLogStats]] and the fold).
    * Probe == the doc's [[cdcFpGroups]] group minus itself (and a
    * singleton group the report drops probes empty) — spec-pinned.
    *
    * The candidate set is broadcast by HINT, not by AQE's runtime
    * guess (the no-corpus-shuffle claim must not depend on adaptive
    * statistics arriving in time) — but only while it is PROVABLY
    * small: `maxBroadcastCandidates` is the enforced form of the
    * "small by the dedup premise" assumption (sim10's
    * `maxBroadcastBatch` contract). The fp log exists precisely
    * because duplicate groups can be huge — a degenerate content
    * column (empty strings, boilerplate) makes one fingerprint
    * corpus-sized and a hinted broadcast an executor OOM — so a
    * bounded size probe (its limit bounds the count job's RESULT to
    * cap+1 rows; the distinct beneath it still scans the fp-filtered
    * candidate rows — see [[underCap]]) gates the hint, and an
    * over-cap group takes the same pipeline
    * un-hinted: the join keys on doc_id, so Spark plans a shuffle
    * join — AQE-splittable, skew-safe. Identical rows on either path
    * (spec-pinned); only the join strategy moves.
    */
  private[graft] def cdcFpProbe(s: SparkSession, logDir: String,
                                docId: Long,
                                maxBroadcastCandidates: Long = 1L << 20): DataFrame = {
    import s.implicits._
    val empty = Seq.empty[(Long, String)].toDF("dup_doc_id", "fp")
    val log = Layout.committedView(s, logDir, logLegs).map(_.read(""))
      .getOrElse(return empty)
    val t = log.filter($"doc_id" === docId)
      .groupBy($"doc_id")
      .agg(max(struct($"ver", $"deleted", $"fp")).as("m"))
      .select($"m.deleted".as("deleted"), $"m.fp".as("fp"))
      .collect() // <= 1 row by construction (one group key)
    if (t.isEmpty || t.head.getBoolean(0)) empty
    else {
      val fp = t.head.getString(1)
      val candIds = log.filter($"fp" === fp && $"doc_id" =!= docId)
        .select($"doc_id").distinct()
      val small = underCap(candIds, maxBroadcastCandidates)
      log.join(if (small) broadcast(candIds) else candIds, "doc_id")
        .groupBy($"doc_id")
        .agg(max(struct($"ver", $"deleted", $"fp")).as("m"))
        .select($"doc_id".as("dup_doc_id"), $"m.deleted".as("deleted"),
          $"m.fp".as("fp"))
        .filter(!$"deleted" && $"fp" === fp)
        .select($"dup_doc_id", $"fp")
        .orderBy($"dup_doc_id")
    }
  }

  /** Append one CDC batch's versioned state rows to a slim log — the
    * shared appender of the fp log (doc_id, ver, deleted, fp) and the
    * band log (doc_id, ver, deleted, sh, bands); the protocol is
    * column-agnostic. One segment per batch, batch-id-addressed so
    * replay is an idempotent overwrite, unless a fold already consumed
    * that segment: [[Layout.append]] then skips it. (The fp report's
    * per-doc argmax happens to tolerate duplicated rows, but the fence
    * keeps the log's segment set a function of committed state — and
    * byte growth bounded — under the same contract as the text/ANN
    * twins.) Returns true iff a segment was written.
    */
  private[graft] def appendCdcFpSegment(images: DataFrame, logDir: String,
                                        segment: String): Boolean =
    Layout.append(images.sparkSession, logDir, segment)(Seq(
      () => images.write.mode("overwrite").parquet(s"$logDir/seg=$segment")))

  /** Fold the cdcm6 fingerprint log to a live-only single base segment —
    * the dedup twin of [[TextAnalysis.compactCdcTextIndex]] /
    * [[Similarity.compactCdcAnnIndex]]: superseded versions and delete
    * tombstones are dropped (nothing older remains for a tombstone to
    * mask), so the per-report argmax shrinks from O(touched-versions)
    * to O(live docs). [[cdcFpGroups]] is invariant across the fold by
    * construction — the argmax already ignored everything compaction
    * removes (spec-pinned in CdcFpLogCompactSpec). Published through
    * [[Layout.fold]] by [[compactCdcLog]].
    */
  def compactCdcFpLog(s: SparkSession, logDir: String): Unit =
    compactCdcLog(s, logDir)

  /** The one fold of a versioned state log (fp or band): per doc, the
    * latest version's row — (doc_id, ver, deleted) plus the log's own
    * payload columns, which are its columns minus those three and the
    * `seg` partition column — live rows only, as one `seg=base`.
    */
  private def compactCdcLog(s: SparkSession, logDir: String): Unit =
    Layout.fold(s, logDir, logLegs, "compact") { (view, staging) =>
      val log = view.read("")
      val carried = Seq("ver", "deleted") ++
        log.columns.filterNot(Set("doc_id", "ver", "deleted", "seg"))
      log.groupBy(col("doc_id"))
        .agg(max(struct(carried.map(col): _*)).as("m"))
        .select(col("doc_id") +: carried.map(c => col(s"m.$c").as(c)): _*)
        .filter(!col("deleted"))
        .coalesce(4)
        .write.mode("overwrite").parquet(s"$staging/seg=base")
    }

  // ---- CDC-maintained NEAR-dup state: the LSH band log (cdcm15) -------
  //
  // cdcm6's fp log answers "which docs are EXACT duplicates right now";
  // the band log answers the near-dup question the batch gates (dd02)
  // answer offline — continuously. Per batch, each touched doc's latest
  // image contributes one versioned row carrying its shingle set and
  // its dd02 LSH band keys (Dedup.bandStructs — the ONE banding
  // derivation, shared with the batch gate and the dd06 index, so the
  // three paths can never band differently). The report is
  // merge-on-read: per-doc argmax → live rows → band-bucket self-join →
  // exact shingle-Jaccard verification — dd02's shape over the CURRENT
  // corpus, fresh as the last micro-batch.

  /** One CDC batch's near-dup state rows: (doc_id, ver, deleted, sh,
    * bands). `sh` is the doc's shingle set as FIXED-WIDTH 16-byte md5
    * digests (`unhex(md5(shingle))`), not the raw 3-word strings: the
    * log is the heaviest maintained-state payload and raw shingles made
    * it O(corpus text) per touched version, while Jaccard over digest
    * sets is EXACTLY Jaccard over the shingle sets (md5 is injective at
    * the gate's 128-bit tier — the same exactness argument dd02 makes
    * for its band hashes). Tombstones carry null arrays — the argmax
    * orders on (ver, deleted) first and ver is unique per doc per
    * batch, so the arrays never decide a comparison. O(batch): two md5
    * per shingle of the touched docs, nothing corpus-sized.
    */
  private[graft] def cdcm15BandImages(imgs: DataFrame): DataFrame = {
    import imgs.sparkSession.implicits._
    imgs.select($"doc_id", $"ver", $"deleted",
      when($"deleted", lit(null))
        .otherwise(transform(Dedup.shingles($"text"), x => unhex(md5(x))))
        .as("sh"),
      when($"deleted", lit(null))
        .otherwise(Dedup.bandStructs($"text")).as("bands"))
  }

  /** Current near-dup pairs from the band log (dd02's answer, fresh as
    * the last batch): doc-log argmax → live rows → identical-payload
    * COLLAPSE → band self-join over representatives → exact
    * digest-Jaccard ≥ 0.2 → member expansion. Plan shape at scale: the
    * argmax is the one log-proportional step (bounded by
    * [[compactCdcBandLog]] in steady state); the self-join shuffles
    * slim (doc_id, band-key) rows; the digest arrays are re-joined only
    * for candidate SURVIVORS. The collapse is dd02's W5 lesson applied
    * INSIDE the maintained path (it used to be delegated to fp-log
    * composition, which nothing enforced): docs with byte-identical
    * (sh, bands) payloads — a flood of identical texts — reduce to one
    * representative before banding, so a band bucket's pair work is
    * quadratic in DISTINCT payloads, never doc count. Member pairs are
    * reconstructed by local array expansion: cross pairs inherit the
    * representative pair's Jaccard (payloads are identical), intra
    * pairs are Jaccard 1.0 by construction (and always candidates —
    * identical docs share every band). `limit` caps the report (total
    * order on (doc_a, doc_b), so the cut is deterministic).
    */
  private[graft] def cdcNearDupPairs(s: SparkSession, logDir: String,
                                     limit: Int = 500): DataFrame = {
    // The grouped reps feed four consumers (band explode, both Jaccard
    // sides, member expansion), so pin them once and DETACH the
    // bounded result before releasing (the gate cache contract).
    val grouped = cdcNearDupGrouped(cdcNearDupLive(s, logDir)).persist()
    try cdcNearDupReport(grouped, limit)
      .localCheckpoint(true) // detach before the cache releases
    finally grouped.unpersist()
  }

  /** Live latest images from the band log (lazy inner builder — the
    * plan-shape spec pins it; the gate path wraps it in
    * [[cdcNearDupPairs]]).
    */
  private[graft] def cdcNearDupLive(s: SparkSession, logDir: String): DataFrame = {
    import s.implicits._
    val log = Layout.committedView(s, logDir, logLegs).map(_.read("")).getOrElse(
      return s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, sh ARRAY<BINARY>, " +
            "bands ARRAY<STRUCT<band_id: INT, h: STRING>>")))
    // the argmax shuffles SLIM (doc_id, ver, deleted) keys only — the
    // shingle/band arrays never enter the agg exchange; the winning
    // versions' arrays come back by a (doc_id, ver) join, the same
    // split the text/ANN folds use.
    val liveKeys = log.select($"doc_id", $"ver", $"deleted")
      .groupBy($"doc_id")
      .agg(max(struct($"ver", $"deleted")).as("m"))
      .select($"doc_id", $"m.ver".as("ver"), $"m.deleted".as("deleted"))
      .filter(!$"deleted")
    log.join(liveKeys.select($"doc_id", $"ver"), Seq("doc_id", "ver"))
      .select($"doc_id", $"sh", $"bands")
  }

  /** W5 collapse: group BY the payload arrays themselves — partial
    * aggregation folds duplicates map-side, so the exchange carries
    * ~one row per distinct payload (the same bytes dd02's
    * min(struct(doc_id, text)) agg shuffles), and 128-bit-exactness
    * questions never arise.
    */
  private[graft] def cdcNearDupGrouped(live: DataFrame): DataFrame = {
    import live.sparkSession.implicits._
    live.groupBy($"sh", $"bands")
      .agg(sort_array(collect_list($"doc_id")).as("members"))
      .select(element_at($"members", 1).as("doc_id"), $"sh", $"bands",
        $"members")
  }

  /** The report over collapsed representatives: band self-join →
    * exact digest-Jaccard → member expansion (lazy inner builder).
    */
  private[graft] def cdcNearDupReport(grouped: DataFrame,
                                      limit: Int): DataFrame = {
    import grouped.sparkSession.implicits._
      val bands = grouped.select($"doc_id", explode($"bands").as("b"))
        .select($"doc_id", $"b.band_id".as("band_id"), $"b.h".as("h"))
      val candReps = bands.as("a").join(bands.as("b"),
          $"a.band_id" === $"b.band_id" && $"a.h" === $"b.h" &&
            $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
        .distinct()
      val sh = grouped.select($"doc_id", $"sh")
      val verified = candReps
        .join(sh.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), "doc_a")
        .join(sh.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), "doc_b")
        .select($"doc_a", $"doc_b",
          (size(array_intersect($"sh_a", $"sh_b")).cast("double") /
            size(array_union($"sh_a", $"sh_b"))).as("jaccard"))
        .filter($"jaccard" >= 0.2)
      // cross-group expansion: every member pair inherits the rep
      // pair's Jaccard (byte-identical payloads)
      val cross = verified
        .join(grouped.select($"doc_id".as("doc_a"), $"members".as("ms_a")), "doc_a")
        .join(grouped.select($"doc_id".as("doc_b"), $"members".as("ms_b")), "doc_b")
        .select($"jaccard", explode($"ms_a").as("x"), $"ms_b")
        .select($"jaccard", $"x", explode($"ms_b").as("y"))
        .select(least($"x", $"y").as("doc_a"),
          greatest($"x", $"y").as("doc_b"), $"jaccard")
      // intra-group pairs: identical payloads share all bands (always
      // candidates) at Jaccard exactly 1.0; an EMPTY shingle set's
      // Jaccard is 0/0 = null in the reference arithmetic, so those
      // groups (unreachable for real text) stay out
      val intra = grouped
        .where(size($"members") >= 2 && size($"sh") > 0)
        .select(explode(expr(
          "flatten(transform(members, (x, i) -> " +
            "transform(slice(members, i + 2, size(members)), " +
            "y -> struct(x AS doc_a, y AS doc_b))))")).as("p"))
        .select($"p.doc_a", $"p.doc_b", lit(1.0).as("jaccard"))
      cross.unionByName(intra)
        .orderBy($"doc_a", $"doc_b")
        .limit(limit)
  }

  /** Near-dups of ONE doc from the band log — the ingest-time screening
    * probe ([[cdcNearDupPairs]] recomputes the whole corpus report; the
    * production question is usually "near-dups of THIS doc").
    * Two-phase like its exact-dup twin [[cdcFpProbe]], so NOTHING here
    * is log-proportional beyond pushed cuts: (1) the target's live
    * image is a doc_id-pushdown argmax over ITS OWN versions — a
    * bounded driver-side cut (≤1 row); (2) candidates are docs with
    * ANY version in one of the target's ≤2 band buckets (a pushed
    * band-key cut over the slim (doc_id, bands) explode — parquet
    * stats prune the scan), and the liveness argmax runs over the
    * CANDIDATES' rows only: a doc that merely USED to share a bucket
    * is admitted to the argmax and then rejected by its live image's
    * bands, exactly the report's live-bands candidacy. The full band
    * SELF-join, the corpus-wide liveness argmax, and the full Jaccard
    * pass never run. The candidate set is broadcast by hint only while
    * provably small (`maxBroadcastCandidates`, [[cdcFpProbe]]'s
    * contract — an identical-payload flood makes one bucket huge);
    * over the cap the doc_id-keyed join plans as a shuffle with
    * identical rows. Probe results equal the report restricted to
    * pairs containing the doc, Jaccard for Jaccard (spec-pinned):
    * candidacy and the digest-Jaccard arithmetic are the same
    * derivations. Empty for a deleted, unknown doc or an uncommitted
    * log ([[Layout.committedView]]).
    */
  private[graft] def cdcNearDupProbe(s: SparkSession, logDir: String,
                                     docId: Long,
                                     maxBroadcastCandidates: Long = 1L << 20): DataFrame = {
    import s.implicits._
    val empty = Seq.empty[(Long, Long, Double)].toDF("doc_a", "doc_b", "jaccard")
    val log = Layout.committedView(s, logDir, logLegs).map(_.read(""))
      .getOrElse(return empty)
    val t = log.filter($"doc_id" === docId)
      .groupBy($"doc_id")
      .agg(max(struct($"ver", $"deleted", $"sh", $"bands")).as("m"))
      .select($"m.deleted".as("deleted"), $"m.sh".as("sh"), $"m.bands".as("bands"))
      .collect() // <= 1 row by construction (one group key)
    if (t.isEmpty || t.head.getBoolean(0)) empty
    else {
      val tShingles = t.head.getSeq[Array[Byte]](1)
      val tBands = t.head.getSeq[org.apache.spark.sql.Row](2)
      // a live image with NO bands has no buckets and hence no
      // neighborhood — answer empty like the deleted/unknown cases
      // (unreachable via cdcm15BandImages, which always emits 2 bands,
      // but the append protocol is column-agnostic: a degenerate
      // planted log must probe empty, not crash the reduce below)
      if (tBands == null || tBands.isEmpty) return empty
      val inBuckets = tBands.map(r =>
          $"b.band_id" === r.getInt(0) && $"b.h" === r.getString(1))
        .reduce(_ || _)
      val candIds = log.filter($"doc_id" =!= docId)
        .select($"doc_id", explode($"bands").as("b"))
        .filter(inBuckets)
        .select($"doc_id").distinct()
      val small = underCap(candIds, maxBroadcastCandidates)
      val liveCand = log
        .join(if (small) broadcast(candIds) else candIds, "doc_id")
        .groupBy($"doc_id")
        .agg(max(struct($"ver", $"deleted", $"sh", $"bands")).as("m"))
        .select($"doc_id", $"m.deleted".as("deleted"),
          $"m.sh".as("sh"), $"m.bands".as("bands"))
        .filter(!$"deleted")
        // live-bands re-check: candidacy is defined on CURRENT images
        .select($"doc_id", $"sh", explode($"bands").as("b"))
        .filter(inBuckets)
        .dropDuplicates("doc_id") // a doc sharing both bands is one candidate
      val tsh = Seq(Tuple1(tShingles)).toDF("sh_t")
      liveCand.crossJoin(broadcast(tsh)) // one-row broadcast, never a cartesian
        .select(least(lit(docId), $"doc_id").as("doc_a"),
          greatest(lit(docId), $"doc_id").as("doc_b"),
          (size(array_intersect($"sh", $"sh_t")).cast("double") /
            size(array_union($"sh", $"sh_t"))).as("jaccard"))
        .filter($"jaccard" >= 0.2)
        .orderBy($"doc_a", $"doc_b")
    }
  }

  /** Fold the band log to a live-only single base segment — the same
    * [[compactCdcLog]] as [[compactCdcFpLog]], carrying the band log's
    * (sh, bands) payload. [[cdcNearDupPairs]] is invariant across the
    * fold by construction (the argmax already ignored everything it
    * removes — spec-pinned in CdcBandLogSpec).
    */
  def compactCdcBandLog(s: SparkSession, logDir: String): Unit =
    compactCdcLog(s, logDir)

  // ---- Batched ingest screening: one joined pass per micro-batch ------
  //
  // cdcFpProbe/cdcNearDupProbe answer "is THIS doc a duplicate / a
  // near-dup of anything live" — but each call pays a fixed ~3-job
  // overhead (target argmax collect, candidate size probe, candidate
  // join), so screening a micro-batch of N docs as N probe calls is N×
  // that overhead plus N separate scans of the same log. The production
  // screening shape is "screen THIS BATCH's docs against the live
  // state" inside foreachBatch — one joined pass for the whole batch,
  // the same progression the ANN surface took from sim04's single-probe
  // kNN to sim10's batch kNN join ([[Similarity.ivfPqKnnJoin]] is the
  // template: per-batch structures broadcast only while provably small,
  // identical rows on the shuffle fallback). Reference analogue: the
  // queue multiplex consumes event BATCHES, not events (jdbc.clj:41-48,
  // 175).

  /** Exact-duplicate partners of EVERY doc in `docIds` from the fp log
    * — [[cdcFpProbe]] batched into one joined pass. Returns
    * (probe_doc_id, dup_doc_id, fp): for each live probed doc, its live
    * exact-dup partners — row-for-row the union of the per-doc probes
    * with the probe id attached (spec-pinned, including over-cap and
    * degenerate targets). Deleted, unknown and unique probed docs
    * contribute no rows; an uncommitted or absent log answers empty
    * ([[Layout.committedView]]).
    *
    * Shape, phase by phase (nothing corpus-proportional beyond pushed
    * cuts, like the single-doc probe):
    *  1. targets' live images: the log restricted by ONE doc_id-keyed
    *     semi-join against the batch (broadcast while the batch is
    *     under the cap — sim10's `maxBroadcastBatch` contract), argmax
    *     over the restriction only;
    *  2. candidates: docs with ANY version carrying any target's live
    *     fp — one fp-keyed join against the targets' distinct fps (the
    *     batch twin of the single-doc probe's pushed fp literal; the
    *     join is the pushdown once there are N literals), size-gated
    *     by [[underCap]] before any broadcast hint;
    *  3. liveness argmax over the CANDIDATES' rows only — a doc that
    *     merely USED to carry a probed fp is admitted and then
    *     rejected by its latest image, exactly the per-doc semantics;
    *  4. partners: live candidates fp-joined back to the live targets,
    *     self-pairs dropped LAST (a batch doc can be another batch
    *     doc's partner, so candidates are never pre-filtered by id).
    *
    * The result is lazy (callers compose it into their own batch
    * pipeline; a foreachBatch consumer persists its own batch images) —
    * only the two bounded size probes run eagerly, the same two jobs
    * the single-doc probe pays ONCE PER DOC.
    */
  private[graft] def cdcFpProbeBatch(s: SparkSession, logDir: String,
                                     docIds: DataFrame,
                                     maxBroadcastCandidates: Long = 1L << 20): DataFrame = {
    import s.implicits._
    val empty = Seq.empty[(Long, Long, String)]
      .toDF("probe_doc_id", "dup_doc_id", "fp")
    val log = Layout.committedView(s, logDir, logLegs).map(_.read(""))
      .getOrElse(return empty)
    val targets = docIds.select($"doc_id").distinct()
    val tSmall = underCap(targets, maxBroadcastCandidates)
    def sideT(df: DataFrame): DataFrame = if (tSmall) broadcast(df) else df
    val tLive = log.join(sideT(targets), "doc_id")
      .groupBy($"doc_id")
      .agg(max(struct($"ver", $"deleted", $"fp")).as("m"))
      .select($"doc_id".as("probe_doc_id"), $"m.deleted".as("deleted"),
        $"m.fp".as("fp"))
      .filter(!$"deleted")
    val candIds = log.select($"doc_id", $"fp")
      .join(sideT(tLive.select($"fp").distinct()), "fp")
      .select($"doc_id").distinct()
    val cSmall = underCap(candIds, maxBroadcastCandidates)
    log.join(if (cSmall) broadcast(candIds) else candIds, "doc_id")
      .groupBy($"doc_id")
      .agg(max(struct($"ver", $"deleted", $"fp")).as("m"))
      .select($"doc_id".as("dup_doc_id"), $"m.deleted".as("deleted"),
        $"m.fp".as("fp"))
      .filter(!$"deleted")
      .join(sideT(tLive.select($"probe_doc_id", $"fp")), "fp")
      .filter($"dup_doc_id" =!= $"probe_doc_id")
      .select($"probe_doc_id", $"dup_doc_id", $"fp")
      .orderBy($"probe_doc_id", $"dup_doc_id")
  }

  /** Near-dups of EVERY doc in `docIds` from the band log —
    * [[cdcNearDupProbe]] batched into one joined pass, returning
    * (probe_doc_id, doc_a, doc_b, jaccard): for each live probed doc,
    * the report pairs containing it (doc_a/doc_b in least/greatest
    * order, exact digest-Jaccard ≥ 0.2) — row-for-row the union of the
    * per-doc probes with the probe id attached (spec-pinned, including
    * over-cap, band-less, tombstoned and unknown members).
    *
    * Same four phases as [[cdcFpProbeBatch]] with band keys in place
    * of fingerprints: (1) targets' live images via one doc_id-keyed
    * semi-join + argmax (a band-less live target explodes to no keys
    * and probes empty — no driver-side reduce to crash); (2) candidates
    * via ONE (band_id, h)-keyed join between the log's exploded bands
    * and the targets' distinct live band keys; (3) liveness over
    * candidates only, as a SLIM key argmax — the winning versions'
    * arrays come back by a (doc_id, ver) join, so the agg exchange
    * never carries shingle arrays ([[cdcNearDupLive]]'s split); (4) the
    * live-bands re-check re-derives (probe, candidate) pairs from the
    * candidates' LIVE bands joined to the targets' band keys (the
    * report's live-candidacy rule), then exactly one Jaccard per
    * surviving pair, shingle arrays joined back for survivors only.
    */
  private[graft] def cdcNearDupProbeBatch(s: SparkSession, logDir: String,
                                          docIds: DataFrame,
                                          maxBroadcastCandidates: Long = 1L << 20): DataFrame = {
    import s.implicits._
    val empty = Seq.empty[(Long, Long, Long, Double)]
      .toDF("probe_doc_id", "doc_a", "doc_b", "jaccard")
    val log = Layout.committedView(s, logDir, logLegs).map(_.read(""))
      .getOrElse(return empty)
    val targets = docIds.select($"doc_id").distinct()
    val tSmall = underCap(targets, maxBroadcastCandidates)
    def sideT(df: DataFrame): DataFrame = if (tSmall) broadcast(df) else df
    val tLive = log.join(sideT(targets), "doc_id")
      .groupBy($"doc_id")
      .agg(max(struct($"ver", $"deleted", $"sh", $"bands")).as("m"))
      .select($"doc_id".as("probe_doc_id"), $"m.deleted".as("deleted"),
        $"m.sh".as("sh_t"), $"m.bands".as("bands_t"))
      .filter(!$"deleted")
    // (probe, band-key) rows: a null/empty bands array explodes to
    // nothing — that target has no buckets and screens empty
    val tBands = tLive.select($"probe_doc_id", explode($"bands_t").as("b"))
      .select($"probe_doc_id", $"b.band_id".as("band_id"), $"b.h".as("h"))
    val candIds = log.select($"doc_id", explode($"bands").as("b"))
      .select($"doc_id", $"b.band_id".as("band_id"), $"b.h".as("h"))
      .join(sideT(tBands.select($"band_id", $"h").distinct()),
        Seq("band_id", "h"))
      .select($"doc_id").distinct()
    val cSmall = underCap(candIds, maxBroadcastCandidates)
    def sideC(df: DataFrame): DataFrame = if (cSmall) broadcast(df) else df
    // slim liveness argmax over candidates; arrays fetched by join
    val liveKeys = log.select($"doc_id", $"ver", $"deleted")
      .join(sideC(candIds), "doc_id")
      .groupBy($"doc_id")
      .agg(max(struct($"ver", $"deleted")).as("m"))
      .select($"doc_id", $"m.ver".as("ver"), $"m.deleted".as("deleted"))
      .filter(!$"deleted")
      .select($"doc_id", $"ver")
    val liveCand = log.join(sideC(liveKeys), Seq("doc_id", "ver"))
      .select($"doc_id".as("cand_id"), $"sh", $"bands")
    // live-bands re-check: pairs from the candidates' CURRENT images
    val pairsSlim = liveCand
      .select($"cand_id", explode($"bands").as("b"))
      .select($"cand_id", $"b.band_id".as("band_id"), $"b.h".as("h"))
      .join(sideT(tBands), Seq("band_id", "h"))
      .filter($"cand_id" =!= $"probe_doc_id")
      .select($"probe_doc_id", $"cand_id").distinct()
    // the survivors' Jaccard: the SLIM pair frame is bounded by
    // |candidates| × |targets| — a PRODUCT, so "both sides under the
    // cap" does not bound it (two 1M-row sides legally pair to 10^12
    // rows under clustered buckets), and a hint here could demand a
    // multi-GB broadcast the per-doc probe's one-row frame never could.
    // No hint: AQE broadcasts from the pair frame's own runtime size
    // when it is genuinely small, and plans a shuffle join otherwise —
    // the array-carrying frames never broadcast either way.
    pairsSlim
      .join(liveCand.select($"cand_id", $"sh".as("sh_c")), "cand_id")
      .join(sideT(tLive.select($"probe_doc_id", $"sh_t")), "probe_doc_id")
      .select($"probe_doc_id",
        least($"probe_doc_id", $"cand_id").as("doc_a"),
        greatest($"probe_doc_id", $"cand_id").as("doc_b"),
        (size(array_intersect($"sh_c", $"sh_t")).cast("double") /
          size(array_union($"sh_c", $"sh_t"))).as("jaccard"))
      .filter($"jaccard" >= 0.2)
      .orderBy($"probe_doc_id", $"doc_a", $"doc_b")
  }

  // ---- Log maintenance policy: WHEN to compact, as code ---------------
  //
  // The text and ANN structures got their trigger measurements + advice
  // in rounds 17/18 (cdcTextIndexStats/textMaintenanceAdvice,
  // cdcAnnIndexStats/annMaintenanceAdvice); the two LOG structures (fp,
  // band) and the doclogs the text/ANN indexes carry had folds but no
  // measured trigger — their compaction schedules were hardcoded batch
  // ordinals in the gates. These two close that: the compaction trigger
  // for any versioned (key, ver, deleted) segment log is the measured
  // read amplification (total version rows / live keys — what every
  // report's argmax pays vs what it needs) and the committed segment
  // count (per-report file-listing + parquet-footer overhead, and each
  // segment is a separate read).

  /** Churn stats of a versioned CDC state log — the measurement that
    * decides WHEN to run [[compactCdcFpLog]] / [[compactCdcBandLog]]
    * (or the text/ANN doclog folds — any log whose rows are
    * (`keyCol`, ver, deleted, payload...) under the seg= layout reads
    * the same way; pass `keyCol = "vec_id"` for the ANN doclog).
    * Returns ONE row: (n_rows, n_keys, n_live, n_segments) where
    * n_rows counts every version incl. tombstones (what the per-report
    * argmax reads), n_live counts keys whose latest version is not
    * deleted (what it needs), and n_segments counts committed non-base
    * segments (per-report open overhead; the fold's own seg=base output
    * is steady state, not debt). Cost and cadence at scale: the row
    * counts are one slim 3-column aggregate over the log — column
    * pruning keeps the payload arrays unread, but the scan is still
    * O(log), so at very large corpora the amplification trigger belongs
    * at fold-consideration cadence (every N batches), while the SEGMENT
    * trigger is one directory listing — free enough for every append.
    * The cdcm18 gate measures both after every append (its log is
    * test-scale); the semantics it pins are cadence-independent.
    */
  def cdcLogStats(s: SparkSession, logDir: String,
                  keyCol: String = "doc_id"): DataFrame = {
    import s.implicits._
    val view = Layout.committedView(s, logDir, logLegs).getOrElse(
      return Seq((0L, 0L, 0L, 0)).toDF("n_rows", "n_keys", "n_live", "n_segments"))
    val nSegs = view.segs.count(_ != "seg=base")
    view.read("")
      .select(col(keyCol).as("k"), $"ver", $"deleted")
      .groupBy($"k")
      .agg(count(lit(1)).as("n_vers"), max(struct($"ver", $"deleted")).as("m"))
      .agg(count(lit(1)).as("n_keys"),
        // coalesce: a committed-but-empty log (a base folded from
        // all-dead rows) aggregates zero groups and sum() yields null
        coalesce(sum($"n_vers"), lit(0L)).as("n_rows"),
        coalesce(sum(when(!$"m.deleted", 1L).otherwise(0L)), lit(0L)).as("n_live"))
      .select($"n_rows", $"n_keys", $"n_live", lit(nSegs).as("n_segments"))
  }

  /** The executable form of [[cdcLogStats]]'s trigger prose — the log
    * twin of [[Similarity.annMaintenanceAdvice]] /
    * [[TextAnalysis.textMaintenanceAdvice]]. `compact` is true when
    * the log's read amplification (n_rows / n_live — superseded
    * versions and tombstones every argmax reads and discards) exceeds
    * `ampFactor` (default 4: a report pays 4× the bytes it needs), when
    * the log holds ONLY dead rows (amplification is ∞ — all bytes are
    * waste), or when committed non-base segments exceed `maxSegments`
    * (default 16: listing + footer + task overhead per report grows
    * with the segment count even when amplification is low). The stats
    * frame is one row by construction — a bounded driver-side collect.
    */
  final case class LogMaintenanceAdvice(compact: Boolean, nRows: Long,
                                        nKeys: Long, nLive: Long,
                                        nSegments: Int,
                                        amplification: Double, reason: String)

  /** [[cdcLogStats]]'s documented cadence contract as code: the
    * amplification measurement is an O(log) scan, so at 100 TB it runs
    * at FOLD-CONSIDERATION cadence (every `everyN`th append), while
    * the segment-count trigger — one directory listing — stays cheap
    * enough for every append. This counter is that deployment guidance
    * as a reusable value instead of prose: a daemon holds one per
    * structure and calls `due()` once per append — true on every
    * `everyN`th call (always at 1), so the measure-and-fold leg runs
    * at the structure's own pace with no shared schedule. The class
    * implements no shutdown hook: a daemon shutting down MUST itself
    * run one final measure regardless of phase (the spec's caller does
    * exactly that), or owing debt outlives the stream just because it
    * ended mid-cadence. Thread-safe: appends run on the stream's
    * microbatch thread, tallies read elsewhere.
    */
  final class MaintenanceCadence(val everyN: Int) {
    require(everyN >= 1, s"cadence must be >= 1 (got $everyN)")
    private val calls = new java.util.concurrent.atomic.AtomicLong(0L)
    /** Count one append; true when this append is a measure point. */
    def due(): Boolean = calls.incrementAndGet() % everyN == 0L
    /** Appends seen so far (for tallies/asserts, not control flow). */
    def callCount: Long = calls.get()
  }

  def logMaintenanceAdvice(stats: DataFrame, ampFactor: Double = 4.0,
                           maxSegments: Int = 16): LogMaintenanceAdvice = {
    val r = stats.select("n_rows", "n_keys", "n_live", "n_segments").head()
    val (nRows, nKeys, nLive) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val nSegs = r.getInt(3)
    val amp =
      if (nLive > 0) nRows.toDouble / nLive
      else if (nRows > 0) Double.PositiveInfinity
      else 1.0
    val amplified = amp > ampFactor
    val overSegs = nSegs > maxSegments
    val reason =
      if (amplified && overSegs)
        f"amplification $amp%.1f > $ampFactor%.1f AND $nSegs segments > $maxSegments"
      else if (amplified) f"amplification $amp%.1f > $ampFactor%.1f ($nRows rows / $nLive live)"
      else if (overSegs) s"$nSegs committed segments > $maxSegments"
      else "healthy"
    LogMaintenanceAdvice(amplified || overSegs, nRows, nKeys, nLive, nSegs,
      amp, reason)
  }

  /** The READ side of the stats→advice→fold loop: one row per
    * maintained structure, in the shape an ops dashboard (or a fleet
    * maintenance daemon choosing what to fold next) queries —
    * `cdcLogStats` completed the measurement side in round 18, this
    * completes the observability side. `structures` is
    * (name, kind, path) where kind is `text` (a cdcm4 text index),
    * `ann` (a cdcm5 ANN index), or `log[:keyCol]` (any versioned
    * (keyCol, ver, deleted, payload…) segment log — fp, band, or the
    * text/ANN doclogs via `log:vec_id`). Each structure is measured by
    * ITS OWN stats call and judged by ITS OWN advice policy — the same
    * calls the cdcm16/17/18/19 gates fold on, so a row here is exactly
    * the decision the daemon would take. Unified columns:
    * `fold` (the decision), `suggestion` (grown bucket/quantizer count;
    * -1 for logs — a log fold has no size knob), `n_live` (live
    * postings / vectors / keys — the structure's real size), `pressure`
    * (the policy's own ratio: max-bucket/budget for text, max/mean
    * cell skew for ANN, read amplification for logs), `at_cap` (an ANN
    * growth demand the maxK budget suppressed — the shard signal) and
    * the human `reason`. Cost: one stats pass per structure (slim
    * aggregates, payload columns pruned) — the fold-consideration
    * cadence documented on [[cdcLogStats]] applies to the whole report.
    */
  final case class StructureAdvice(structure: String, kind: String,
                                   fold: Boolean, suggestion: Long,
                                   n_live: Long, pressure: Double,
                                   at_cap: Boolean, reason: String)

  def maintenanceAdviceReport(s: SparkSession,
                              structures: Seq[(String, String, String)],
                              textBudgetFraction: Double = 0.25,
                              annSkewRatio: Double = 4.0,
                              annGrowthFactor: Double = 4.0,
                              annMaxK: Int = 1 << 12,
                              logAmpFactor: Double = 4.0,
                              logMaxSegments: Int = 16): DataFrame = {
    import s.implicits._
    val rows = structures.map { case (name, kind, path) =>
      kind.split(":", 2).toList match {
        // the text/ANN stats read the committed two-leg view, which
        // throws FileNotFoundException during a rebucket/requantize
        // publish swap (the one reader MOST likely to race a daemon
        // fold is this ops report) — retry per STRUCTURE, so one
        // mid-swap index recomputes alone instead of failing the whole
        // report or re-measuring its healthy neighbors
        case "text" :: _ => Layout.retryOnceOnMissing {
          // one stats pass per structure (guide §1.2); the budget the
          // advice used is re-derived from its own totalPostings
          val a = graft.operators.TextAnalysis.cdcTextIndexAdvice(
            s, path, budgetFraction = textBudgetFraction)
          val budget = math.max(1L, (a.totalPostings * textBudgetFraction).toLong)
          StructureAdvice(name, "text", a.rebucket, a.suggestedBuckets.toLong,
            a.totalPostings, a.maxBucket.toDouble / budget, at_cap = false,
            a.reason)
        }
        case "ann" :: _ => Layout.retryOnceOnMissing {
          val a = graft.operators.Similarity.annMaintenanceAdvice(
            graft.operators.Similarity.cdcAnnIndexStats(s, path),
            skewRatio = annSkewRatio, growthFactor = annGrowthFactor,
            maxK = annMaxK)
          StructureAdvice(name, "ann", a.requantize, a.suggestedK.toLong,
            a.nLive,
            if (a.meanCell > 0) a.maxCell / a.meanCell else 0.0,
            a.atCap, a.reason)
        }
        case "log" :: rest =>
          val keyCol = rest.headOption.getOrElse("doc_id")
          val a = logMaintenanceAdvice(cdcLogStats(s, path, keyCol),
            ampFactor = logAmpFactor, maxSegments = logMaxSegments)
          StructureAdvice(name, "log", a.compact, -1L, a.nLive,
            a.amplification, at_cap = false, a.reason)
        case other =>
          throw new IllegalArgumentException(
            s"maintenanceAdviceReport: unknown structure kind '$kind' " +
              s"for '$name' (expected text | ann | log[:keyCol])")
      }
    }
    rows.toDF().orderBy($"structure")
  }

  // cdcm20 — the advice report under the oracle: two versioned state
  // logs are PLANTED deterministically from the documents table (fp
  // pattern: 1 + doc_id % 3 versions across 3 segments, latest
  // tombstoned for doc_id % 5 == 0; band pattern: one version across
  // 20 segments — past the default 16-segment budget — tombstoned for
  // doc_id % 11 == 0), and maintenanceAdviceReport must read back
  // exactly the stats and decisions DuckDB recomputes from the same
  // table arithmetic: one structure healthy, the other owing a fold on
  // the segment budget, n_live/amplification numeric to the bit (the
  // reason strings are fixed by the same arithmetic, so they oracle as
  // literals). The text/ANN rows of the report run the non-SQL-
  // replayable stats (hash bucketing, quantizer cells) — their
  // report==advice equality is MaintenancePolicySpec territory; the
  // log rows carry the full build→stats→advice→report loop here.
  def cdcm20AdviceReport(s: SparkSession, d: String): DataFrame =
    withRotatingWorkdir("graft-cdcm20") { work =>
      import s.implicits._
      val docs = graft.core.Tables.documents(s, d).select($"doc_id").persist()
      try {
        val fpLog = work.resolve("fplog").toString
        (0 to 2).foreach { v =>
          docs.filter($"doc_id" % 3 >= v)
            .select($"doc_id", lit(v.toLong).as("ver"),
              ($"doc_id" % 3 === v && $"doc_id" % 5 === 0).as("deleted"),
              md5($"doc_id".cast("string")).as("fp"))
            .coalesce(2)
            .write.mode("overwrite").parquet(f"$fpLog/seg=b$v%06d")
        }
        val bandLog = work.resolve("bandlog").toString
        (0 to 19).foreach { g =>
          docs.filter($"doc_id" % 20 === g)
            .select($"doc_id", lit(0L).as("ver"),
              ($"doc_id" % 11 === 0).as("deleted"),
              md5($"doc_id".cast("string")).as("payload"))
            .coalesce(1)
            .write.mode("overwrite").parquet(f"$bandLog/seg=b$g%06d")
        }
        maintenanceAdviceReport(s,
          Seq(("band_log", "log", bandLog), ("fp_log", "log", fpLog)))
          .select($"structure", $"kind", $"fold", $"suggestion", $"n_live",
            $"pressure", $"reason")
          .localCheckpoint(true) // DETACH — the workdir rotates away
          .orderBy($"structure")
      } finally docs.unpersist()
    }

  // cdcm21 — BATCHED INGEST SCREENING under the oracle: the per-doc
  // screening probes' batch twins ([[cdcFpProbeBatch]] /
  // [[cdcNearDupProbeBatch]]) run against CDC-MAINTAINED state. One
  // bounded-admission stream feeds BOTH screening structures from a
  // single decode (cdcm6's fp log + cdcm15's band log — the daemon's
  // one-decode-N-structures shape), each folded MID-STREAM after the
  // third appended segment with ingest continuing after the fold
  // (cdcm9/cdcm15's recipe — the screens must be fold-invariant).
  // Post-stream, a deterministic probe batch per structure — every
  // doc_id ≡ 0 (mod 7: fp / mod 991: band) the log ever saw: live,
  // superseded and tombstoned alike (the moduli keep each screen
  // non-vacuous at every SF while staying batch-sized, see below) —
  // is screened against each structure in ONE joined pass, and DuckDB
  // recomputes both screens from the latest-image ground truth: the fp
  // leg re-derives dd01's fingerprint self-join restricted to the
  // probe set, the band leg replays dd02's CTE chain (cdcm15's oracle,
  // unlimited) restricted to pairs containing a probe. A stale partner
  // anywhere — a dropped supersession, a leaked tombstone, a fold that
  // ate a live row, a batch seam that split a screen — hash-fails a
  // leg. This is the reference's batch-consuming queue multiplex
  // (jdbc.clj:41-48, 175) applied to the screening surface: N docs per
  // trigger, one joined pass, never N probe jobs.
  def cdcm21BatchScreen(s: SparkSession, d: String): DataFrame =
    withRotatingWorkdir("graft-cdcm21") { work =>
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      val fix = fixtureDir(d)
      val totalBytes = fixtureBinlogBytes(s, fix)
      val cap = math.max(totalBytes / 6, 1L)
      val fpLog = work.resolve("fplog").toString
      val bandLog = work.resolve("bandlog").toString
      val appended = new java.util.concurrent.atomic.AtomicInteger(0)
      val changes = s.readStream.format("mysql-binlog")
        .option("payloadDdl", payloadDdl)
        .option("maxBytesPerTrigger", cap.toString)
        .load(fix)
      val q = changes.writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // one decode, two screening structures (cdcm19's fan-out shape)
          val imgs = cdcm4BatchImages(batch, batchId).persist()
          try {
            if (!imgs.isEmpty) {
              val fp = imgs
                .withColumn("fp", md5(TextAnalysis.normalize($"word")))
                .select($"doc_id", $"ver", $"deleted", $"fp")
                .coalesce(4)
              val band = cdcm15BandImages(imgs).coalesce(4)
              // the two structure appends are independent (disjoint
              // logs off one cached image fold) — run them
              // concurrently (guide §2.6); both legs' fences sit at
              // the same ordinal, so evaluating both uncurries the
              // old short-circuit without changing what gets written
              val Seq(fpOk, bandOk) = inParallelLegs(Seq(
                () => appendCdcFpSegment(fp, fpLog, f"b$batchId%06d"),
                () => appendCdcFpSegment(band, bandLog, f"b$batchId%06d")))
              if (fpOk && bandOk && appended.incrementAndGet() == 3)
                // two independent folds of disjoint structures
                inParallelLegs(Seq(
                  () => compactCdcFpLog(s, fpLog),
                  () => compactCdcBandLog(s, bandLog)))
              ()
            }
          } finally imgs.unpersist()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      require(appended.get() >= 5,
        s"bounded admission degenerated (cap=$cap of $totalBytes bytes, " +
          s"${appended.get()} appends) — the screens need folded AND " +
          "post-fold state under them")
      Seq(fpLog, bandLog).foreach { p =>
        require(segNames(s, p).contains("seg=base") && fenceOf(s, p).isDefined,
          s"the mid-stream fold left no base segment or fence under $p")
      }
      // the probe batches are derived from the LOG (what an ingest
      // consumer has), the answers from the live images: tombstoned
      // probes answer nothing, which is itself part of the contract.
      // Each leg's modulus keeps its probe set batch-sized AND its
      // screen non-vacuous at every SF: exact-dup groups are RARE
      // (mod 7 still catches them at sf0.001), near-dup neighborhoods
      // are flood-sized (mod 991 still returns pairs at sf0.001, and
      // anything denser makes the band answer corpus-shaped — 17M rows
      // at sf0.1 under mod 7 — which is a report's job, not a screen's)
      // each leg's probes come from the structure IT screens: both logs
      // are fed from the same images today, but a band route that ever
      // filtered rows (e.g. skipped band-less docs) must not let the fp
      // log silently define the band screen's probe set
      def probes(logDir: String, mod: Int) =
        Layout.committedView(s, logDir, logLegs).get.read("")
          .filter($"doc_id" % mod === 0).select($"doc_id").distinct()
          .localCheckpoint(true) // slim id set; DETACH — workdir rotates
      // two disjoint-structure screens, run concurrently (guide §2.6)
      val Seq(fpLeg, bandLeg) = inParallelLegs(Seq(
        () => Layout.retryOnceOnMissing {
          cdcFpProbeBatch(s, fpLog, probes(fpLog, 7))
            .select(lit("fp").as("leg"), $"probe_doc_id".as("probe_id"),
              $"dup_doc_id".as("key_a"), lit(-1L).as("key_b"),
              lit(1.0).as("score"))
            .localCheckpoint(true) // DETACH — the workdir rotates away
        },
        () => Layout.retryOnceOnMissing {
          cdcNearDupProbeBatch(s, bandLog, probes(bandLog, 991))
            .select(lit("band").as("leg"), $"probe_doc_id".as("probe_id"),
              $"doc_a".as("key_a"), $"doc_b".as("key_b"),
              $"jaccard".as("score"))
            .localCheckpoint(true) // DETACH — the workdir rotates away
        }))
      require(fpLeg.limit(1).count() == 1 && bandLeg.limit(1).count() == 1,
        "a vacuous screen (an empty leg) cannot prove the batch shape")
      fpLeg.unionAll(bandLeg)
        .orderBy($"leg", $"probe_id", $"key_a", $"key_b")
    }

  // cdcm15 — NEAR-dup freshness, the fourth maintained-state kind (text
  // cdcm4, vectors cdcm5, exact dups cdcm6, near dups here): the band
  // log maintained under bounded admission with compactCdcBandLog
  // folding it MID-STREAM after the third appended segment (cdcm9's
  // recipe), ingest continuing for >= 2 more. The report — current
  // near-dup pairs with exact Jaccard — hash-matches dd02's CTE chain
  // replayed by DuckDB over the latest-image ground truth: the banding,
  // the candidate join AND the Jaccard arithmetic all re-derive
  // independently, so a drift anywhere in the maintained state breaks
  // the hash.
  def cdcm15NearDupFreshness(s: SparkSession, d: String): DataFrame =
    withRotatingWorkdir("graft-cdcm15") { work =>
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      val fix = fixtureDir(d)
      val totalBytes = fixtureBinlogBytes(s, fix)
      val cap = math.max(totalBytes / 6, 1L)
      val log = work.resolve("bandlog").toString
      val appended = new java.util.concurrent.atomic.AtomicInteger(0)
      val changes = s.readStream.format("mysql-binlog")
        .option("payloadDdl", payloadDdl)
        .option("maxBytesPerTrigger", cap.toString)
        .load(fix)
      val q = changes.writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val imgs = cdcm15BandImages(cdcm4BatchImages(batch, batchId))
            .coalesce(4)
            .persist()
          try {
            if (!imgs.isEmpty &&
                appendCdcFpSegment(imgs, log, f"b$batchId%06d") &&
                appended.incrementAndGet() == 3)
              compactCdcBandLog(s, log)
          } finally imgs.unpersist()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      require(appended.get() >= 5,
        s"bounded admission degenerated (cap=$cap of $totalBytes bytes, " +
          s"${appended.get()} appends) — the gate needs 3 pre-compaction " +
          "segments and >= 2 post-compaction ones")
      val segs = segNames(s, log)
      require(segs.contains("seg=base") &&
        segs.size == appended.get() - 3 + 1,
        s"expected seg=base + ${appended.get() - 3} ingest segments, got $segs")
      Layout.retryOnceOnMissing {
        cdcNearDupPairs(s, log)
          .localCheckpoint(true) // DETACH — the workdir rotates away
      }.orderBy($"doc_a", $"doc_b")
    }

  // cdcm9 — the dedup leg of the compact-under-ingest family (text
  // cdcm7, vectors cdcm8): cdcm6's fingerprint-log pipeline with
  // compactCdcFpLog folding the log MID-STREAM after the third
  // appended segment, ingest continuing for >= 2 more. The fold drops
  // superseded versions and delete tombstones; post-compaction batches
  // must supersede folded rows through the same argmax, and the final
  // duplicate-group report hash-matches cdcm6's latest-image oracle.
  // With cdcm7/cdcm8 this proves the WHOLE maintenance story — every
  // CDC-maintained structure (text postings, IVF cells, fp log) folds
  // under live ingest with its probe none the wiser.
  def cdcm9CompactedFpFreshness(s: SparkSession, d: String): DataFrame =
    withRotatingWorkdir("graft-cdcm9") { work =>
      import s.implicits._
      val fix = fixtureDir(d)
      val totalBytes = fixtureBinlogBytes(s, fix)
      val cap = math.max(totalBytes / 6, 1L)
      val log = work.resolve("fplog").toString
      val appended = new java.util.concurrent.atomic.AtomicInteger(0)
      val changes = s.readStream.format("mysql-binlog")
        .option("payloadDdl", payloadDdl)
        .option("maxBytesPerTrigger", cap.toString)
        .load(fix)
      val q = changes.writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val imgs = cdcm4BatchImages(batch, batchId)
            .withColumn("fp", md5(TextAnalysis.normalize($"word")))
            .select($"doc_id", $"ver", $"deleted", $"fp")
            .coalesce(4)
            .persist()
          try {
            if (!imgs.isEmpty &&
                appendCdcFpSegment(imgs, log, f"b$batchId%06d") &&
                appended.incrementAndGet() == 3)
              compactCdcFpLog(s, log)
          } finally imgs.unpersist()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      require(appended.get() >= 5,
        s"bounded admission degenerated (cap=$cap of $totalBytes bytes, " +
          s"${appended.get()} appends) — the gate needs 3 pre-compaction " +
          "segments and >= 2 post-compaction ones")
      val segs = segNames(s, log)
      require(segs.contains("seg=base") &&
        segs.size == appended.get() - 3 + 1,
        s"expected seg=base + ${appended.get() - 3} ingest segments, got $segs")
      Layout.retryOnceOnMissing {
        cdcFpGroups(s, log)
          .localCheckpoint(true) // DETACH — the workdir rotates away
      }.orderBy($"keeper_doc_id")
    }

  // cdcm18 — POLICY-triggered log compaction, the log twin of cdcm16
  // (text re-bucket) and cdcm17 (ANN requantize): cdcm9 folds the fp
  // log on a hardcoded schedule ("after the 3rd append"); here the
  // schedule IS logMaintenanceAdvice over cdcLogStats — after every
  // append the log's read amplification and committed segment count are
  // measured and compactCdcFpLog runs iff the advice fires. The planted
  // pressure (cdcm16's 2-bucket idiom) is a per-report open-segment
  // budget of 2: every third append exceeds it, so the policy must fire
  // at least twice across the stream, proving fire → fold → healthy →
  // re-accumulate → re-fire, not a one-shot. The gate pins that the
  // policy fired >= 2×, that EVERY fire was cleared by its fold (a log
  // fold retires the whole debt in one step — unlike re-bucketing,
  // where residual skew can demand another growth step), that the end
  // state owes nothing under the same budget, that the surviving
  // non-base segment count respects the budget, and that the duplicate-
  // group report hash-matches cdcm6's latest-image oracle — the
  // maintenance loop closed end-to-end with no human in it, for the
  // maintained-state kind whose debt is churn, not skew.
  def cdcm18PolicyCompactFreshness(s: SparkSession, d: String): DataFrame =
    withRotatingWorkdir("graft-cdcm18") { work =>
      import s.implicits._
      val fix = fixtureDir(d)
      val totalBytes = fixtureBinlogBytes(s, fix)
      val cap = math.max(totalBytes / 8, 1L)
      val log = work.resolve("fplog").toString
      val segBudget = 2
      val appended = new java.util.concurrent.atomic.AtomicInteger(0)
      val fired = new java.util.concurrent.atomic.AtomicInteger(0)
      def advice() =
        logMaintenanceAdvice(cdcLogStats(s, log), maxSegments = segBudget)
      val changes = s.readStream.format("mysql-binlog")
        .option("payloadDdl", payloadDdl)
        .option("maxBytesPerTrigger", cap.toString)
        .load(fix)
      val q = changes.writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val imgs = cdcm4BatchImages(batch, batchId)
            .withColumn("fp", md5(TextAnalysis.normalize($"word")))
            .select($"doc_id", $"ver", $"deleted", $"fp")
            .coalesce(4)
            .persist()
          try {
            if (!imgs.isEmpty &&
                appendCdcFpSegment(imgs, log, f"b$batchId%06d")) {
              appended.incrementAndGet()
              val a = advice()
              if (a.compact) {
                fired.incrementAndGet()
                compactCdcFpLog(s, log)
                val after = advice()
                require(!after.compact,
                  s"one fold must retire a log's whole debt; still owing: $after")
              }
            }
          } finally imgs.unpersist()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      require(appended.get() >= 6,
        s"bounded admission degenerated (cap=$cap of $totalBytes bytes, " +
          s"${appended.get()} appends) — the policy needs two full " +
          "accumulate-past-budget cycles")
      require(fired.get() >= 2,
        s"the maintenance policy fired ${fired.get()} time(s) — a " +
          s"$segBudget-segment budget under ${appended.get()} appends " +
          "must fire at least twice")
      val endState = advice()
      require(!endState.compact,
        s"the closed loop left maintenance owing at stream end: $endState")
      val nonBase = segNames(s, log).count(_ != "seg=base")
      require(nonBase <= segBudget,
        s"$nonBase non-base segments survived a $segBudget-segment budget")
      Layout.retryOnceOnMissing {
        cdcFpGroups(s, log)
          .localCheckpoint(true) // DETACH — the workdir rotates away
      }.orderBy($"keeper_doc_id")
    }

  // cdcm10 — multi-table fan-out: ONE bounded-admission reader over a
  // log whose every transaction writes TWO tables (same id range — only
  // the table name separates the rows), routing each table's latest
  // images into its OWN maintained text index inside the same
  // foreachBatch pass. This is the production CDC shape the single-table
  // gates can't see: a server log is a multiplex, and the fan-out must
  // decode it ONCE (the batch persists across the routes) while keeping
  // the structures fully independent. Both probes hash-match per-table
  // full rebuilds over the ground truth; the shared id space plus
  // asymmetric mutations (d1 updates where d2 deletes, and vice versa)
  // make any cross-table bleed — a missed filter, a swapped index path,
  // a shared-state slip — a hash failure, not a plausible answer.
  /** cdcm10's bucket count: HALF cdcm4's — the fan-out gate writes one
    * file set per bucket per index per batch, and it maintains TWO
    * indexes; 8 keeps the physical file count per batch at cdcm4's
    * level while probe pruning stays at 2-of-8 postings buckets.
    */
  private[operators] val cdcm10Buckets = 8

  def cdcm10MultiIndexRouting(s: SparkSession, d: String): DataFrame =
    withRotatingWorkdir("graft-cdcm10") { work =>
      import s.implicits._
      val fix = Paths.get(fixtureDir(d), "multi").toString
      val totalBytes = fixtureBinlogBytes(s, fix)
      val cap = math.max(totalBytes / 4, 1L)
      val tables = Seq("d1", "d2")
      def idxOf(tbl: String) = work.resolve(s"idx_$tbl").toString
      val changes = s.readStream.format("mysql-binlog")
        .option("payloadDdl", payloadDdl)
        .option("maxBytesPerTrigger", cap.toString)
        .load(fix)
      val q = changes.writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // decode once, route N ways: the persist pins the decoded
          // batch so each table's image fold re-reads columnar cache,
          // not the binlog span
          val b = batch.persist()
          // decode once, route N ways — and run the N independent
          // per-table routes concurrently (guide §2.6): each leg owns
          // its table's image fold and its index directory outright
          try inParallelLegs(tables.map(tbl => () => {
            val imgs = cdcm4BatchImages(
              b.filter(b("table") === tbl), batchId).persist()
            try {
              if (!imgs.isEmpty)
                graft.operators.TextAnalysis.appendCdcTextSegment(
                  imgs, idxOf(tbl), f"b$batchId%06d", nBuckets = cdcm10Buckets)
              ()
            } finally imgs.unpersist()
          })) finally b.unpersist()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      tables.foreach { tbl =>
        val segs = segNames(s, s"${idxOf(tbl)}/doclog")
        require(segs.size >= 3,
          s"bounded admission degenerated for $tbl (cap=$cap of " +
            s"$totalBytes bytes) — the routing gate needs >= 3 real " +
            "segments per index")
      }
      // independent per-index probes, run concurrently (guide §2.6)
      inParallelLegs(tables.map(tbl => () =>
        Layout.retryOnceOnMissing {
          graft.operators.TextAnalysis
            .bm25TopKViaCdcIndex(s, idxOf(tbl), cdcm4Terms, 50,
              nBuckets = cdcm10Buckets)
            .select(lit(tbl).as("tbl"), $"doc_id", $"bm25", $"r_sparse")
            .localCheckpoint(true) // DETACH — the workdir rotates away
        }
      )).reduce(_.unionAll(_)).orderBy($"tbl", $"r_sparse")
    }

  // cdcm11 — HETEROGENEOUS fan-out: cdcm10's multiplex routed to
  // DIFFERENT structure kinds in one pass — d1's changes maintain a
  // text index (cdcm4's recipe), d2's maintain a vector index (cdcm5's
  // recipe, embeddings derived from the row), both inside the same
  // serialized foreachBatch over one decoded batch. This is the shape a
  // real training-data platform runs off one CDC feed: the same log
  // multiplex feeds retrieval, dedup state and vector search, and each
  // structure keeps its own segment lifecycle. Probes return in a
  // common (leg, key_id, score, r) shape; each leg hash-matches its own
  // rebuild over the per-table ground truth, so a routing slip lands
  // foreign rows in a structure whose oracle never saw them.
  def cdcm11HeteroIndexRouting(s: SparkSession, d: String): DataFrame =
    withRotatingWorkdir("graft-cdcm11") { work =>
      import s.implicits._
      val fix = Paths.get(fixtureDir(d), "multi").toString
      val totalBytes = fixtureBinlogBytes(s, fix)
      val cap = math.max(totalBytes / 4, 1L)
      val txtIdx = work.resolve("idx_text").toString
      val annIdx = work.resolve("idx_ann").toString
      val changes = s.readStream.format("mysql-binlog")
        .option("payloadDdl", payloadDdl)
        .option("maxBytesPerTrigger", cap.toString)
        .load(fix)
      val q = changes.writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val b = batch.persist()
          // the two heterogeneous routes are independent — run them
          // concurrently (guide §2.6); each leg owns its own image
          // fold, cache and index directory
          try inParallelLegs(Seq(
            () => {
              val t = cdcm4BatchImages(
                b.filter(b("table") === "d1"), batchId).persist()
              try {
                if (!t.isEmpty)
                  graft.operators.TextAnalysis.appendCdcTextSegment(
                    t, txtIdx, f"b$batchId%06d", nBuckets = cdcm10Buckets)
                ()
              } finally t.unpersist()
            },
            () => {
              val v = cdcm5BatchImages(
                b.filter(b("table") === "d2"), batchId).persist()
              try {
                if (!v.isEmpty)
                  graft.operators.Similarity.appendCdcAnnSegment(
                    v, annIdx, f"b$batchId%06d")
                ()
              } finally v.unpersist()
            })) finally b.unpersist()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      Seq(txtIdx, annIdx).foreach { idx =>
        val segs = segNames(s, s"$idx/doclog")
        require(segs.size >= 3,
          s"bounded admission degenerated under $idx (cap=$cap of " +
            s"$totalBytes bytes) — the heterogeneous gate needs >= 3 " +
            "real segments per structure")
      }
      // probe vector: the smallest live id's embedding, read back from
      // the vector index itself (one slim row to the driver)
      val probeVec = annProbeVector(s, annIdx)
      // two disjoint-structure probes, run concurrently (guide §2.6)
      val Seq(textLeg, annLeg) = inParallelLegs(Seq(
        () => Layout.retryOnceOnMissing {
          graft.operators.TextAnalysis
            .bm25TopKViaCdcIndex(s, txtIdx, cdcm4Terms, 50,
              nBuckets = cdcm10Buckets)
            .select(lit("text").as("leg"), $"doc_id".cast("long").as("key_id"),
              $"bm25".as("score"), $"r_sparse".as("r"))
            .localCheckpoint(true) // DETACH — the workdir rotates away
        },
        () => Layout.retryOnceOnMissing {
          graft.operators.Similarity
            .mipsTopKViaCdcAnnIndex(s, annIdx, probeVec, 50)
            .select(lit("ann").as("leg"), $"vec_id".cast("long").as("key_id"),
              $"dot".cast("double").as("score"), $"r_dense".as("r"))
            .localCheckpoint(true) // DETACH — the workdir rotates away
        }))
      textLeg.unionAll(annLeg).orderBy($"leg", $"r")
    }

  /** Fixture byte total through the Hadoop FS the source itself reads
    * with — the admission-cap sizing must not be the one local-only
    * idiom in an otherwise URI-clean family (a fixture on s3a/hdfs sizes
    * identically).
    */
  private[graft] def fixtureBinlogBytes(s: SparkSession, fix: String): Long = {
    val p = new org.apache.hadoop.fs.Path(fix)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.listStatus(p)
      .filter(st => st.isFile && st.getPath.getName.startsWith("binlog.0"))
      .map(_.getLen).sum
  }

  /** `seg=*` directory names under a structure leg, via the same FS. */
  private[graft] def segNames(s: SparkSession, dir: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).map(_.getPath.getName).filter(_.startsWith("seg=")).toSet
  }

  private def fenceOf(s: SparkSession, dir: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    Layout.foldedThrough(p.getFileSystem(s.sparkContext.hadoopConfiguration), p)
  }

  // cdcm12 — THREE-WAY heterogeneous fan-out with STAGGERED per-structure
  // folds: the engine's own promise ("the same log multiplex feeds
  // retrieval, dedup state and vector search" — the reference analogue is
  // the single event-fn/queue multiplex, `mysql_binlog.clj:804-811`,
  // `jdbc.clj:41-48`) made literal. ONE bounded-admission reader decodes
  // each batch ONCE; d1's latest images are derived once and feed TWO
  // structures (the cdcm4 text index and a cdcm6-style fingerprint log —
  // dedup state keyed on the word's vocabulary prefix, so the multi
  // fixture's near-unique words still form real groups), d2's feed the
  // cdcm5 vector index. On top of cdcm11, maintenance runs UNDER the
  // shared pass on a staggered schedule — the text index folds after its
  // 3rd append, the ANN index after its 4th, the fp log never — so the
  // gate pins that replay fences stay PER-STRUCTURE: the two folded
  // structures must carry fences at different ordinals and the unfolded
  // one must carry none (a shared-fence slip would silently drop one
  // route's replays — exactly the failure a fence read from the wrong
  // root produces). Each leg hash-matches its own full rebuild over the
  // per-table ground truth in the common (leg, key_id, score, r) shape.
  def cdcm12TriFanout(s: SparkSession, d: String): DataFrame =
    withRotatingWorkdir("graft-cdcm12") { work =>
      import s.implicits._
      val fix = Paths.get(fixtureDir(d), "multi").toString
      val totalBytes = fixtureBinlogBytes(s, fix)
      // /6: both staggered folds need post-fold appends out of the same
      // fixture (text >= 2 after its fold at 3, ANN >= 1 after its at 4)
      val cap = math.max(totalBytes / 6, 1L)
      val txtIdx = work.resolve("idx_text").toString
      val annIdx = work.resolve("idx_ann").toString
      val fpLog = work.resolve("fplog").toString
      val txtAppends = new java.util.concurrent.atomic.AtomicInteger(0)
      val annAppends = new java.util.concurrent.atomic.AtomicInteger(0)
      val fpAppends = new java.util.concurrent.atomic.AtomicInteger(0)
      val changes = s.readStream.format("mysql-binlog")
        .option("payloadDdl", payloadDdl)
        .option("maxBytesPerTrigger", cap.toString)
        .load(fix)
      val q = changes.writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val b = batch.persist()
          try {
            // d1's images are derived ONCE and routed to BOTH the text
            // index and the fp log — the decoded batch and the image
            // fold are shared work, only the structure appends differ
            val t = cdcm4BatchImages(
              b.filter(b("table") === "d1"), batchId).persist()
            // if building v throws, t's cache entry must not leak for
            // the stream's lifetime — unpersist before rethrowing
            val v = try cdcm5BatchImages(
                b.filter(b("table") === "d2"), batchId).persist()
              catch { case e: Throwable => t.unpersist(); throw e }
            try {
              val tNonEmpty = !t.isEmpty
              val vNonEmpty = !v.isEmpty
              // three independent structure legs off one decode — run
              // concurrently (guide §2.6); each leg's staggered fold
              // stays serialized against ITS OWN ingest on its thread
              inParallelLegs(Seq(
                () => if (tNonEmpty) {
                  if (graft.operators.TextAnalysis.appendCdcTextSegment(
                        t, txtIdx, f"b$batchId%06d", nBuckets = cdcm10Buckets) &&
                      txtAppends.incrementAndGet() == 3)
                    graft.operators.TextAnalysis.compactCdcTextIndex(
                      s, txtIdx, nBuckets = cdcm10Buckets)
                },
                () => if (tNonEmpty) {
                  val fp = t.withColumn("fp",
                      md5(TextAnalysis.normalize(
                        expr("substring_index(word, '_', 1)"))))
                    .select($"doc_id", $"ver", $"deleted", $"fp")
                    .coalesce(4)
                  if (appendCdcFpSegment(fp, fpLog, f"b$batchId%06d"))
                    fpAppends.incrementAndGet()
                  ()
                },
                () => if (vNonEmpty) {
                  if (graft.operators.Similarity.appendCdcAnnSegment(
                        v, annIdx, f"b$batchId%06d") &&
                      annAppends.incrementAndGet() == 4)
                    graft.operators.Similarity.compactCdcAnnIndex(s, annIdx)
                }))
              ()
            } finally { v.unpersist(); t.unpersist() }
          } finally b.unpersist()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      require(txtAppends.get() >= 5 && annAppends.get() >= 5 && fpAppends.get() >= 5,
        s"bounded admission degenerated (cap=$cap of $totalBytes bytes; " +
          s"text=${txtAppends.get()}, ann=${annAppends.get()}, " +
          s"fp=${fpAppends.get()} appends) — the staggered folds need " +
          "post-fold appends on every folded structure")
      // physical state: each structure folded on ITS OWN schedule
      val txtSegs = segNames(s, s"$txtIdx/doclog")
      require(txtSegs.contains("seg=base") &&
        txtSegs.size == txtAppends.get() - 3 + 1,
        s"text: expected seg=base + ${txtAppends.get() - 3} segments, got $txtSegs")
      val annSegs = segNames(s, s"$annIdx/doclog")
      require(annSegs.contains("seg=base") &&
        annSegs.size == annAppends.get() - 4 + 1,
        s"ann: expected seg=base + ${annAppends.get() - 4} segments, got $annSegs")
      val fpSegs = segNames(s, fpLog)
      require(!fpSegs.contains("seg=base") && fpSegs.size == fpAppends.get(),
        s"fp: expected ${fpAppends.get()} unfolded segments, got $fpSegs")
      // the fences themselves: per-structure, never shared — the text
      // fence sits at its 3rd appended ordinal, the ANN fence at its
      // 4th, and the never-folded fp log must carry NO fence at all
      val tf = fenceOf(s, txtIdx)
      val af = fenceOf(s, annIdx)
      require(tf.isDefined && af.isDefined && tf != af,
        s"staggered folds must leave per-structure fences (text=$tf, ann=$af)")
      require(fenceOf(s, fpLog).isEmpty,
        "the never-folded fp log grew a replay fence — a shared-fence " +
          "slip would silently drop its replays")
      val probeVec = annProbeVector(s, annIdx)
      // three disjoint-structure probes, run concurrently (guide §2.6)
      val Seq(textLeg, annLeg, fpLeg) = inParallelLegs(Seq(
        () => Layout.retryOnceOnMissing {
          graft.operators.TextAnalysis
            .bm25TopKViaCdcIndex(s, txtIdx, cdcm4Terms, 50,
              nBuckets = cdcm10Buckets)
            .select(lit("text").as("leg"), $"doc_id".cast("long").as("key_id"),
              $"bm25".as("score"), $"r_sparse".as("r"))
            .localCheckpoint(true) // DETACH — the workdir rotates away
        },
        () => Layout.retryOnceOnMissing {
          graft.operators.Similarity
            .mipsTopKViaCdcAnnIndex(s, annIdx, probeVec, 50)
            .select(lit("ann").as("leg"), $"vec_id".cast("long").as("key_id"),
              $"dot".cast("double").as("score"), $"r_dense".as("r"))
            .localCheckpoint(true) // DETACH — the workdir rotates away
        },
        () => Layout.retryOnceOnMissing {
          cdcFpGroups(s, fpLog)
            // unpartitioned rank is SAFE here: the input is the per-prefix
            // group report — bounded by the vocabulary (8 prefixes), not
            // the corpus — so the single-partition window never sees more
            // than a handful of rows at any scale
            .withColumn("r",
              row_number().over(Window.orderBy($"keeper_doc_id")).cast("long"))
            .select(lit("fp").as("leg"), $"keeper_doc_id".cast("long").as("key_id"),
              $"n_docs".cast("double").as("score"), $"r")
            .localCheckpoint(true) // DETACH — the workdir rotates away
        }))
      textLeg.unionAll(annLeg).unionAll(fpLeg).orderBy($"leg", $"r")
    }

  // cdcm19 — the MAINTENANCE DAEMON under the oracle, the engine's
  // capstone claim ("no human in the maintenance loop") as a gate: ONE
  // bounded-admission reader over the multi fixture decodes each batch
  // once and fans d1's latest images to THREE structures (text index,
  // fp log, band log) and d2's to a fourth (ANN index) — and every
  // fold point is chosen by the structure's OWN measured policy, none
  // by a schedule. cdcm16/17/18 each proved one policy on one
  // structure; the daemon SPEC (CdcMultiRouteCompactSpec) proved the
  // four policies choose different batches off one shared pass against
  // twin logs; this puts that composition under the DuckDB oracle:
  // each kind starts deliberately undersized (2-bucket text index, k=2
  // quantizer, 2-segment log budgets) so all four policies have real
  // pressure, and after every append the structure is measured and
  // folded iff ITS advice fires (text re-buckets at the suggested
  // count, marker-driven appends; ANN requantizes at the suggested k
  // under cdcm17's maxK deployment budget; the logs compact) — so
  // fences, markers and quantizer state interleave across routes at
  // policy-chosen points. The gate pins that all four policies fired,
  // that nothing owes maintenance at stream end, that text/quantizer
  // state grew past its planted start, and that all FOUR probes
  // hash-match their independent full rebuilds over the per-table
  // ground truth in a common (leg, key_a, key_b, score, r) shape —
  // text BM25, exact MIPS, duplicate groups, and the near-dup pair
  // report with exact Jaccard.
  private def inParallelLegs[T](legs: Seq[() => T]): Seq[T] =
    Layout.inParallelLegs(legs)

  def cdcm19PolicyDaemonFreshness(s: SparkSession, d: String): DataFrame =
    withRotatingWorkdir("graft-cdcm19") { work =>
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      val fix = Paths.get(fixtureDir(d), "multi").toString
      val totalBytes = fixtureBinlogBytes(s, fix)
      // /6, cdcm12's recipe: every policy needs room to fire AND to see
      // post-fold appends out of the same fixture
      val cap = math.max(totalBytes / 6, 1L)
      val txtIdx = work.resolve("idx_text").toString
      val annIdx = work.resolve("idx_ann").toString
      val fpLog = work.resolve("fplog").toString
      val bandLog = work.resolve("bandlog").toString
      val segBudget = 2
      val txtAppends = new java.util.concurrent.atomic.AtomicInteger(0)
      val annAppends = new java.util.concurrent.atomic.AtomicInteger(0)
      val fpAppends = new java.util.concurrent.atomic.AtomicInteger(0)
      val bandAppends = new java.util.concurrent.atomic.AtomicInteger(0)
      val txtFired = new java.util.concurrent.atomic.AtomicInteger(0)
      val annFired = new java.util.concurrent.atomic.AtomicInteger(0)
      val fpFired = new java.util.concurrent.atomic.AtomicInteger(0)
      val bandFired = new java.util.concurrent.atomic.AtomicInteger(0)
      val lastNb = new java.util.concurrent.atomic.AtomicInteger(2)
      val lastK = new java.util.concurrent.atomic.AtomicInteger(2)
      // one stats pass per decision (guide §1.2), same budget rule:
      // budget = max(1, live postings / 4)
      def txtAdvice() = graft.operators.TextAnalysis.cdcTextIndexAdvice(s, txtIdx)
      // skewRatio=∞ / maxK=32: cdcm17's contract — growth arithmetic is
      // exact at every SF while Lloyd skew on md5-pseudo-random stubs
      // has no deterministic cross-SF bound (skew fire-and-clear is
      // CdcAnnSkewSpec/MaintenancePolicySpec territory), and the maxK
      // budget keeps per-batch append cost a deployment knob
      def annAdvice() = graft.operators.Similarity.annMaintenanceAdvice(
        graft.operators.Similarity.cdcAnnIndexStats(s, annIdx),
        skewRatio = Double.MaxValue, maxK = 32)
      def fpAdvice() = logMaintenanceAdvice(cdcLogStats(s, fpLog),
        maxSegments = segBudget)
      def bandAdvice() = logMaintenanceAdvice(cdcLogStats(s, bandLog),
        maxSegments = segBudget)
      // the band leg runs at FOLD-CONSIDERATION cadence (every 2nd
      // append), the MaintenanceCadence deployment contract: the
      // amplification measure is an O(log) scan, so at 100 TB it cannot
      // run per append — and the probes are fold-invariant, so WHEN the
      // fold lands cannot change the gate's rows. The other three legs
      // keep per-append measurement (both cadences stay gate-tested).
      val bandCadence = new MaintenanceCadence(2)
      val changes = s.readStream.format("mysql-binlog")
        .option("payloadDdl", payloadDdl)
        .option("maxBytesPerTrigger", cap.toString)
        .load(fix)
      val q = changes.writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val b = batch.persist()
          try {
            // d1's images are derived ONCE and routed to text index,
            // fp log AND band log (the daemon shape: one decode, N
            // structures); d2's to the ANN index
            val t = cdcm4BatchImages(
              b.filter(b("table") === "d1"), batchId).persist()
            // if building v throws, t's cache entry must not leak for
            // the stream's lifetime — unpersist before rethrowing
            val v = try cdcm5BatchImages(
                b.filter(b("table") === "d2"), batchId).persist()
              catch { case e: Throwable => t.unpersist(); throw e }
            try {
              val tNonEmpty = !t.isEmpty
              val vNonEmpty = !v.isEmpty
              // the four structures' append→measure→fold legs are
              // independent (disjoint directories, per-leg state) — run
              // them concurrently (guide §2.6); each leg alone still
              // serializes ITS structure's maintenance against its
              // ingest, which is all the fold contract demands
              val textLeg0 = () => if (tNonEmpty) {
                val nb = graft.operators.TextAnalysis
                  .textIndexBucketCount(s, txtIdx).getOrElse(2)
                if (graft.operators.TextAnalysis.appendCdcTextSegment(
                      t, txtIdx, f"b$batchId%06d", nBuckets = nb)) {
                  txtAppends.incrementAndGet()
                  // fold until the policy is satisfied (cdcm16's loop:
                  // a growth step cures projected mean, residual skew
                  // may demand one more; must-grow guard terminates)
                  var a = txtAdvice()
                  while (a.rebucket && a.suggestedBuckets > lastNb.get()) {
                    txtFired.incrementAndGet()
                    lastNb.set(a.suggestedBuckets)
                    graft.operators.TextAnalysis.rebucketCdcTextIndex(
                      s, txtIdx, a.suggestedBuckets)
                    a = txtAdvice()
                  }
                }
              }
              val fpLeg0 = () => if (tNonEmpty) {
                val fp = t.withColumn("fp",
                    md5(TextAnalysis.normalize(
                      expr("substring_index(word, '_', 1)"))))
                  .select($"doc_id", $"ver", $"deleted", $"fp")
                  .coalesce(4)
                if (appendCdcFpSegment(fp, fpLog, f"b$batchId%06d")) {
                  fpAppends.incrementAndGet()
                  val a = fpAdvice()
                  if (a.compact) {
                    fpFired.incrementAndGet()
                    compactCdcFpLog(s, fpLog)
                    val after = fpAdvice()
                    require(!after.compact,
                      s"one fold must retire the fp log's whole debt: $after")
                  }
                }
              }
              val bandLeg0 = () => if (tNonEmpty) {
                val band = cdcm15BandImages(t).coalesce(4)
                if (appendCdcFpSegment(band, bandLog, f"b$batchId%06d")) {
                  bandAppends.incrementAndGet()
                  if (bandCadence.due()) {
                    val a = bandAdvice()
                    if (a.compact) {
                      bandFired.incrementAndGet()
                      compactCdcBandLog(s, bandLog)
                      val after = bandAdvice()
                      require(!after.compact,
                        s"one fold must retire the band log's whole debt: $after")
                    }
                  }
                }
              }
              val annLeg0 = () => if (vNonEmpty) {
                if (graft.operators.Similarity.appendCdcAnnSegment(
                      v, annIdx, f"b$batchId%06d", k = 2)) {
                  annAppends.incrementAndGet()
                  var a = annAdvice()
                  while (a.requantize && a.suggestedK > lastK.get()) {
                    annFired.incrementAndGet()
                    lastK.set(a.suggestedK)
                    graft.operators.Similarity.requantizeCdcAnnIndex(
                      s, annIdx, k = a.suggestedK)
                    a = annAdvice()
                  }
                }
              }
              inParallelLegs(Seq(textLeg0, fpLeg0, bandLeg0, annLeg0))
              ()
            } finally { v.unpersist(); t.unpersist() }
          } finally b.unpersist()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      require(txtAppends.get() >= 5 && annAppends.get() >= 5 &&
        fpAppends.get() >= 5 && bandAppends.get() >= 5,
        s"bounded admission degenerated (cap=$cap of $totalBytes bytes; " +
          s"text=${txtAppends.get()}, ann=${annAppends.get()}, " +
          s"fp=${fpAppends.get()}, band=${bandAppends.get()} appends) — " +
          "every policy needs pressure cycles")
      // the cadence-carrying leg's documented shutdown obligation: a
      // daemon shutting down runs ONE final measure-and-fold regardless
      // of phase, or mid-cadence debt outlives the stream just because
      // it ended (the MaintenanceCadence contract — no shutdown hook,
      // the caller owes the final measure)
      locally {
        val a = bandAdvice()
        if (a.compact) {
          bandFired.incrementAndGet()
          compactCdcBandLog(s, bandLog)
        }
      }
      // checked AFTER the shutdown measure-and-fold: that fold is the
      // cadence leg's documented obligation, so it counts as a fire
      require(txtFired.get() >= 1 && annFired.get() >= 1 &&
        fpFired.get() >= 1 && bandFired.get() >= 1,
        s"every policy must fire under its planted pressure (text=" +
          s"${txtFired.get()}, ann=${annFired.get()}, fp=${fpFired.get()}, " +
          s"band=${bandFired.get()})")
      // the daemon left nothing owing: the per-append legs measured after
      // every append, the cadence leg just ran its shutdown measure —
      // end-state debt cannot survive either cadence
      val (te, ae, fe, be) = (txtAdvice(), annAdvice(), fpAdvice(), bandAdvice())
      require(!te.rebucket && !ae.requantize && !fe.compact && !be.compact,
        s"the daemon left maintenance owing at stream end: " +
          s"text=$te ann=$ae fp=$fe band=$be")
      require(graft.operators.TextAnalysis.textIndexBucketCount(s, txtIdx)
          .contains(lastNb.get()) && lastNb.get() > 2,
        s"text marker ${graft.operators.TextAnalysis
          .textIndexBucketCount(s, txtIdx)} != policy's last suggestion " +
          s"${lastNb.get()} (or never grew)")
      require(lastK.get() > 2,
        s"the ANN policy fired but the quantizer never grew (k=${lastK.get()})")
      // every policy-folded structure carries its own replay fence —
      // the physical trace of a policy-chosen fold point (exact
      // per-ordinal pins are CdcMultiRouteCompactSpec's daemon leg;
      // the gate pins presence on all four so a fold that silently
      // skipped its fence write cannot pass)
      Seq("text" -> txtIdx, "ann" -> annIdx, "fp" -> fpLog,
          "band" -> bandLog).foreach { case (kind, p) =>
        require(fenceOf(s, p).isDefined,
          s"the $kind structure's policy fired but left no replay fence")
      }
      val probeVec = annProbeVector(s, annIdx)
      val negOne = lit(-1L).as("key_b")
      // the four probes read four disjoint, now-quiescent structures and
      // each detaches eagerly — independent jobs, run concurrently
      // (guide §2.6)
      val Seq(textLeg, annLeg, fpLeg, bandLeg) = inParallelLegs(Seq(
        () => Layout.retryOnceOnMissing {
          graft.operators.TextAnalysis
            .bm25TopKViaCdcIndex(s, txtIdx, cdcm4Terms, 50,
              nBuckets = lastNb.get())
            .select(lit("text").as("leg"), $"doc_id".cast("long").as("key_a"),
              negOne, $"bm25".as("score"), $"r_sparse".as("r"))
            .localCheckpoint(true) // DETACH — the workdir rotates away
        },
        () => Layout.retryOnceOnMissing {
          graft.operators.Similarity
            .mipsTopKViaCdcAnnIndex(s, annIdx, probeVec, 50)
            .select(lit("ann").as("leg"), $"vec_id".cast("long").as("key_a"),
              negOne, $"dot".cast("double").as("score"), $"r_dense".as("r"))
            .localCheckpoint(true) // DETACH — the workdir rotates away
        },
        () => Layout.retryOnceOnMissing {
          cdcFpGroups(s, fpLog)
            // unpartitioned rank: bounded by the 8-prefix vocabulary,
            // never the corpus (cdcm12's fp-leg contract)
            .withColumn("r",
              row_number().over(Window.orderBy($"keeper_doc_id")).cast("long"))
            .select(lit("fp").as("leg"), $"keeper_doc_id".cast("long").as("key_a"),
              negOne, $"n_docs".cast("double").as("score"), $"r")
            .localCheckpoint(true) // DETACH — the workdir rotates away
        },
        () => Layout.retryOnceOnMissing {
          cdcNearDupPairs(s, bandLog)
            // unpartitioned rank: the report is limit-bounded (<= 500
            // rows) before the window ever runs; the report detaches via
            // localCheckpoint, so RESTATE the bound below the window —
            // semantically a no-op, but it keeps the single-task window
            // visibly fed by a GlobalLimit in the executed plan (the
            // plan sweep's bounded-input contract)
            .limit(500)
            .withColumn("r",
              row_number().over(Window.orderBy($"doc_a", $"doc_b")).cast("long"))
            .select(lit("band").as("leg"), $"doc_a".as("key_a"),
              $"doc_b".as("key_b"), $"jaccard".as("score"), $"r")
            .localCheckpoint(true) // DETACH — the workdir rotates away
        }))
      textLeg.unionAll(annLeg).unionAll(fpLeg).unionAll(bandLeg)
        .orderBy($"leg", $"r")
    }

  // cdcb20 — BOUNDED-ADMISSION streaming scan under the oracle: cdcb1's
  // insert scan, but through the micro-batch stream with
  // `maxBytesPerTrigger` = fixture/4, forcing several REAL micro-batches
  // (the gate refuses to pass if admission degenerated to < 3). Each
  // batch boundary exercises the safe-position machinery end-to-end —
  // offsets park only on txn boundaries, open transactions always
  // complete past the byte budget, TABLE_MAP state carries across
  // batches via the snapshot cache — and the result hash-matches the
  // single-batch ground truth only if no batch seam dropped, duplicated,
  // or reordered a row. This is the backpressure shape of a 100 TB
  // deployment (a trigger must be O(budget), never O(backlog)); the
  // per-seam unit cases live in `TableMapSnapshotSpec`/`GtidStartSpec`,
  // this puts the whole contract under the DuckDB oracle.
  def cdcb20BoundedAdmission(s: SparkSession, d: String): DataFrame = synchronized {
    import s.implicits._
    val fix = fixtureDir(d)
    val totalBytes = fixtureBinlogBytes(s, fix)
    val cap = math.max(totalBytes / 4, 1L)
    val q = s.readStream.format("mysql-binlog")
      .option("payloadDdl", payloadDdl)
      .option("maxBytesPerTrigger", cap.toString)
      .load(fix)
      .writeStream.format("memory").queryName("graft_cdcb20_sink")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val nBatches = q.recentProgress.count(_.numInputRows > 0)
    require(nBatches >= 3,
      s"bounded admission degenerated to $nBatches batches (cap=$cap of $totalBytes bytes)")
    s.table("graft_cdcb20_sink")
      .filter($"db" === "bench" && $"table" === "big" && $"_delta_type" === "insert")
      .select($"log_file", $"log_pos", $"log_seq", $"xid", $"id",
        $"val".cast("double").as("val"), $"word")
      .orderBy($"log_file", $"log_pos", $"log_seq")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdcb20_bounded_admission" -> cdcb20BoundedAdmission _,
    "cdcb18_tagged_gtid" -> cdcb18TaggedGtid _,
    "cdcb19_schema_drift" -> cdcb19SchemaDrift _,
    "cdcb22_ddl_evolution_scan" -> cdcb22DdlEvolutionScan _,
    "cdcb17_sbr_events" -> cdcb17SbrEvents _,
    "cdcb14_mariadb_gtid" -> cdcb14MariadbGtid _,
    "cdcb15_mariadb_resume" -> cdcb15MariadbResume _,
    "cdcb16_mariadb_event_stats" -> cdcb16MariadbEventStats _,
    "cdcm1_materialized_table" -> cdcm1MaterializedTable _,
    "cdcm2_incremental_agg" -> cdcm2IncrementalAgg _,
    "cdcm3_incremental_join" -> cdcm3IncrementalJoin _,
    "cdcm4_index_freshness" -> cdcm4IndexFreshness _,
    "cdcm5_ann_freshness" -> cdcm5AnnFreshness _,
    "cdcm6_dedup_freshness" -> cdcm6DedupFreshness _,
    "cdcm15_neardup_freshness" -> cdcm15NearDupFreshness _,
    "cdcm10_multi_index_routing" -> cdcm10MultiIndexRouting _,
    "cdcm11_hetero_index_routing" -> cdcm11HeteroIndexRouting _,
    "cdcm12_tri_fanout" -> cdcm12TriFanout _,
    "cdcm19_policy_daemon_freshness" -> cdcm19PolicyDaemonFreshness _,
    "cdcm20_advice_report" -> cdcm20AdviceReport _,
    "cdcm21_batch_screen" -> cdcm21BatchScreen _,
    "cdcm7_compacted_index_freshness" -> cdcm7CompactedIndexFreshness _,
    "cdcm14_rebucketed_text_freshness" -> cdcm14RebucketedTextFreshness _,
    "cdcm16_policy_rebucket_freshness" -> cdcm16PolicyRebucketFreshness _,
    "cdcm17_policy_requantize_freshness" -> cdcm17PolicyRequantizeFreshness _,
    "cdcm8_compacted_ann_freshness" -> cdcm8CompactedAnnFreshness _,
    "cdcm13_requantized_ann_freshness" -> cdcm13RequantizedAnnFreshness _,
    "cdcm9_compacted_fp_freshness" -> cdcm9CompactedFpFreshness _,
    "cdcm18_policy_compact_freshness" -> cdcm18PolicyCompactFreshness _,
    "cdcb13_compressed_latest_image" -> cdcb13CompressedLatestImage _,
    "cdcb12_partial_json_latest" -> cdcb12PartialJsonLatest _,
    "cdcb11_compressed_txn_scan" -> cdcb11CompressedTxnScan _,
    "cdcb10_row_metadata_scan" -> cdcb10RowMetadataScan _,
    "cdcb9_rows_query_attach" -> cdcb9RowsQueryAttach _,
    "cdcb8_gtid_executed" -> cdcb8GtidExecuted _,
    "cdcb1_binlog_insert_scan" -> cdcb1InsertScan _,
    "cdcb2_binlog_update_pairs" -> cdcb2UpdatePairs _,
    "cdcb3_binlog_event_stats" -> cdcb3EventStats _,
    "cdcb4_binlog_latest_image" -> cdcb4LatestImage _,
    "cdcb21_asof_image" -> cdcb21AsofImage _,
    "cdcb5_checksummed_scan" -> cdcb5ChecksummedScan _,
    "cdcb6_v2_rows_scan" -> cdcb6V2RowsScan _,
    "cdcb7_v2_event_stats" -> cdcb7V2EventStats _)

  /** DuckDB oracles over the generator's expected_* ground truth (absolute
    * paths — these tables live beside the binlog fixture, not in the sf
    * parquet dir; derived deterministically from `sfDir`).
    */
  /** The latest-image ground-truth oracle shared by cdcb4 (window query
    * over the plain fixture), cdcb13 (compressed twin) and cdcm1 (the
    * streaming materializer): final state per key under the rollover-safe
    * (file ordinal, file, pos, seq) total order — ONE definition so an
    * ordering fix can never apply to one twin and silently miss another.
    */
  /** cdcm6/cdcm9's shared oracle: current duplicate groups recomputed
    * from the latest-image ground truth, same dd01 fingerprint
    * derivation — ONE definition so the steady-state gate and its
    * compact-under-ingest twin can never drift apart.
    */
  private def fpGroupsOracle(sfDir: String): String =
    s"""WITH latest AS (${latestImageOracle(sfDir)}),
       |g AS (
       |  SELECT id,
       |    md5(trim(regexp_replace(lower(word), '\\s+', ' ', 'g'))) AS fp
       |  FROM latest)
       |SELECT fp, MIN(id) AS keeper_doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM g
       |GROUP BY fp
       |HAVING COUNT(*) >= 2
       |ORDER BY keeper_doc_id""".stripMargin

  /** cdcm5/cdcm8's shared oracle: brute-force MIPS over the latest
    * images with the mm10-style integer stub embeddings; probe vector =
    * smallest live id's embedding.
    */
  private def annFreshnessOracle(sfDir: String): String =
    s"""WITH latest AS (${latestImageOracle(sfDir)}),
       |emb AS (
       |  SELECT id AS vec_id,
       |    list_transform(generate_series(1, 8), i ->
       |      (('0x' || substr(md5(word || ':' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
       |        % 2001) - 1000) AS e
       |  FROM latest),
       |q AS (SELECT e AS qe FROM emb ORDER BY vec_id LIMIT 1),
       |sc AS (
       |  SELECT vec_id,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(list_zip(e, qe), p -> p[1] * p[2])),
       |      (x, y) -> x + y) AS BIGINT) AS dot
       |  FROM emb, q)
       |SELECT vec_id, dot,
       |  CAST(row_number() OVER (ORDER BY dot DESC, vec_id) AS BIGINT) AS r_dense
       |FROM sc
       |QUALIFY r_dense <= 100
       |ORDER BY r_dense""".stripMargin

  private def latestImageOracle(sfDir: String): String =
    s"""WITH ranked AS (
       |  SELECT id, val, word, _delta_type,
       |    row_number() OVER (PARTITION BY id
       |      ORDER BY ${duckFileOrd("log_file")} DESC, log_file DESC, log_pos DESC, log_seq DESC) AS rn
       |  FROM ${expectedChangesRel(sfDir)}
       |  WHERE _delta_type <> 'update-before')
       |SELECT id, val, word FROM ranked
       |WHERE rn = 1 AND _delta_type <> 'delete'
       |ORDER BY id""".stripMargin

  def oracles(sfDir: String): Map[String, String] = Map(
    "cdcb19_schema_drift" ->
      s"""SELECT id, n_cols, row_txt
         |FROM read_csv('${fixturePathFor(sfDir)}/expected_drift.csv', header=true,
         |  columns={'id':'BIGINT','n_cols':'INTEGER','row_txt':'VARCHAR'})
         |ORDER BY id""".stripMargin,
    // typed evolved scan: the generator's row_txt is 'id' / 'id|v' /
    // 'id|v|w' per generation — absent trailing fields read back NULL,
    // exactly what addColumns null-padding must produce
    "cdcb22_ddl_evolution_scan" ->
      s"""SELECT id,
         |  TRY_CAST(NULLIF(split_part(row_txt, '|', 2), '') AS BIGINT) AS v,
         |  NULLIF(split_part(row_txt, '|', 3), '') AS w
         |FROM read_csv('${fixturePathFor(sfDir)}/expected_drift.csv', header=true,
         |  columns={'id':'BIGINT','n_cols':'INTEGER','row_txt':'VARCHAR'})
         |ORDER BY id""".stripMargin,
    "cdcb18_tagged_gtid" ->
      s"""SELECT log_file, tag, CAST(COUNT(*) AS BIGINT) AS n_txns,
         |  MIN(gno) AS first_gno, MAX(gno) AS last_gno,
         |  CAST(CASE WHEN MAX(gno) - MIN(gno) + 1 = COUNT(*) THEN 1 ELSE 0 END AS INTEGER) AS contiguous
         |FROM read_csv('${fixturePathFor(sfDir)}/expected_tagged.csv', header=true,
         |  columns={'log_file':'VARCHAR','tag':'VARCHAR','gno':'BIGINT'})
         |GROUP BY log_file, tag
         |ORDER BY log_file, tag""".stripMargin,
    "cdcb17_sbr_events" ->
      s"""SELECT event_type, sql
         |FROM read_csv('${fixturePathFor(sfDir)}/expected_sbr.csv', header=true,
         |  columns={'event_type':'VARCHAR','sql':'VARCHAR'})
         |ORDER BY event_type, sql""".stripMargin,
    "cdcb14_mariadb_gtid" -> {
      val rel =
        s"""read_csv('${fixturePathFor(sfDir)}/expected_gtids_mdb.csv', header=true, columns={
           |  'log_file':'VARCHAR','kind':'VARCHAR','gno':'BIGINT','xid':'BIGINT'})""".stripMargin
      s"""WITH gt AS (SELECT log_file, gno FROM $rel WHERE kind = 'txn'),
         |per AS (SELECT log_file, CAST(COUNT(*) AS BIGINT) AS n_txns,
         |          MIN(gno) AS first_seq, MAX(gno) AS last_seq
         |        FROM gt GROUP BY log_file),
         |lst AS (SELECT log_file, gno AS list_end FROM $rel WHERE kind = 'list')
         |SELECT p.log_file, CAST(0 AS BIGINT) AS domain_id, CAST(1 AS BIGINT) AS server_id,
         |  lst.list_end, p.first_seq, p.last_seq, p.n_txns,
         |  CAST(CASE WHEN p.last_seq - p.first_seq + 1 = p.n_txns THEN 1 ELSE 0 END AS INTEGER) AS contiguous,
         |  CAST(CASE WHEN p.first_seq = lst.list_end + 1 THEN 1 ELSE 0 END AS INTEGER) AS resumes_list
         |FROM per p JOIN lst USING (log_file)
         |ORDER BY log_file""".stripMargin
    },
    "cdcb15_mariadb_resume" -> {
      // the gno → xid cutoff comes from the GENERATOR's own GTID record
      // (gtidRec writes each framed transaction's xid), not from re-derived
      // batch geometry — a fixture-geometry change can't silently desync
      // the oracle from the log
      val rel =
        s"""read_csv('${fixturePathFor(sfDir)}/expected_gtids_mdb.csv', header=true, columns={
           |  'log_file':'VARCHAR','kind':'VARCHAR','gno':'BIGINT','xid':'BIGINT'})""".stripMargin
      s"""SELECT _delta_type, COUNT(*) AS n_rows, CAST(SUM(id) AS BIGINT) AS sum_id,
         |  CAST(ROUND(SUM(CAST(val AS DECIMAL(38,10))), 2) AS DOUBLE) AS sum_val,
         |  COUNT(DISTINCT xid) AS n_xids
         |FROM ${expectedChangesRel(sfDir)}
         |WHERE xid > (SELECT xid FROM $rel
         |             WHERE kind = 'txn' AND gno = ${resumeGno(sfDir)})
         |GROUP BY _delta_type
         |ORDER BY _delta_type""".stripMargin
    },
    "cdcb16_mariadb_event_stats" ->
      s"""SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT xid) AS n_xids
         |FROM ${expectedEventsRel(sfDir, "expected_events_mdb.csv")}
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin,
    "cdcm1_materialized_table" ->
      latestImageOracle(sfDir),
    // the view the IVM path maintains, recomputed from the latest-image
    // ground truth; round() before the fixed-point cast kills the CSV
    // double's representation error (val has exactly 4 decimal digits)
    "cdcm2_incremental_agg" ->
      s"""SELECT word, COUNT(*) AS n_rows,
         |  CAST(SUM(CAST(round(val * 10000) AS BIGINT)) AS BIGINT) AS sum_val_e4
         |FROM (${latestImageOracle(sfDir)})
         |GROUP BY word
         |ORDER BY word""".stripMargin,
    // the join view recomputed from the latest-image ground truth ⋈ the
    // nation dimension, same key derivation (id % 25) as the stream side
    "cdcm3_incremental_join" ->
      s"""SELECT l.id, l.val, l.word, n.n_name
         |FROM (${latestImageOracle(sfDir)}) l
         |JOIN nation n ON l.id % 25 = n.n_nationkey
         |ORDER BY l.id""".stripMargin,
    // the full-rebuild twin of the CDC-maintained index: the same text
    // derivation over the latest-image ground truth, scored by the same
    // BM25 CTEs the txt18 lifecycle oracle uses
    "cdcm4_index_freshness" ->
      s"""WITH latest AS (${latestImageOracle(sfDir)}),
         |docs AS (
         |  SELECT id AS doc_id,
         |    repeat(split_part(word, '_', 1) || ' ',
         |           CAST(1 + id % 3 AS INTEGER)) || word AS text
         |  FROM latest),
         |${TextAnalysis.bm25IndexOracleCtes(cdcm4Terms, "pt.doc_id IS NOT NULL", "docs")}
         |SELECT doc_id, bm25,
         |  CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r_sparse
         |FROM sagg
         |QUALIFY r_sparse <= 100
         |ORDER BY r_sparse""".stripMargin,
    // cdcm7: compaction under ingest must be INVISIBLE to the probe —
    // the oracle is cdcm4's full rebuild over latest images, verbatim
    "cdcm7_compacted_index_freshness" ->
      s"""WITH latest AS (${latestImageOracle(sfDir)}),
         |docs AS (
         |  SELECT id AS doc_id,
         |    repeat(split_part(word, '_', 1) || ' ',
         |           CAST(1 + id % 3 AS INTEGER)) || word AS text
         |  FROM latest),
         |${TextAnalysis.bm25IndexOracleCtes(cdcm4Terms, "pt.doc_id IS NOT NULL", "docs")}
         |SELECT doc_id, bm25,
         |  CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r_sparse
         |FROM sagg
         |QUALIFY r_sparse <= 100
         |ORDER BY r_sparse""".stripMargin,
    // cdcm14: re-bucketing under ingest must be INVISIBLE to the probe
    // (bucketing is pure physical placement) — cdcm4's rebuild oracle,
    // verbatim
    "cdcm14_rebucketed_text_freshness" ->
      s"""WITH latest AS (${latestImageOracle(sfDir)}),
         |docs AS (
         |  SELECT id AS doc_id,
         |    repeat(split_part(word, '_', 1) || ' ',
         |           CAST(1 + id % 3 AS INTEGER)) || word AS text
         |  FROM latest),
         |${TextAnalysis.bm25IndexOracleCtes(cdcm4Terms, "pt.doc_id IS NOT NULL", "docs")}
         |SELECT doc_id, bm25,
         |  CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r_sparse
         |FROM sagg
         |QUALIFY r_sparse <= 100
         |ORDER BY r_sparse""".stripMargin,
    // cdcm16: the POLICY-triggered re-bucket must be exactly as
    // invisible as cdcm14's scheduled one — cdcm4's rebuild oracle,
    // verbatim (who decided the fold point changes nothing the probe
    // can see)
    "cdcm16_policy_rebucket_freshness" ->
      s"""WITH latest AS (${latestImageOracle(sfDir)}),
         |docs AS (
         |  SELECT id AS doc_id,
         |    repeat(split_part(word, '_', 1) || ' ',
         |           CAST(1 + id % 3 AS INTEGER)) || word AS text
         |  FROM latest),
         |${TextAnalysis.bm25IndexOracleCtes(cdcm4Terms, "pt.doc_id IS NOT NULL", "docs")}
         |SELECT doc_id, bm25,
         |  CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r_sparse
         |FROM sagg
         |QUALIFY r_sparse <= 100
         |ORDER BY r_sparse""".stripMargin,
    // cdcm15: near-dup pairs among CURRENT latest images — dd02's CTE
    // chain (shingles → minhash windows → bands → candidate self-join →
    // exact Jaccard) replayed over the latest-image ground truth; the
    // maintained band log must agree pair-for-pair, jaccard-for-jaccard
    "cdcm15_neardup_freshness" ->
      s"""WITH latest AS (${latestImageOracle(sfDir)}),
         |docs AS (
         |  SELECT id AS doc_id,
         |    repeat(split_part(word, '_', 1) || ' ',
         |           CAST(1 + id % 3 AS INTEGER)) || word AS text
         |  FROM latest),
         |sh_t AS (SELECT doc_id, ${Dedup.duckShingles} AS sh FROM docs),
         |sig AS (SELECT doc_id, sh,
         |  md5(${Dedup.duckMinhash(0)} || '|' || ${Dedup.duckMinhash(1)}) AS band0,
         |  md5(${Dedup.duckMinhash(2)} || '|' || ${Dedup.duckMinhash(3)}) AS band1 FROM sh_t),
         |bands AS (
         |  SELECT doc_id, sh, 0 AS band_id, band0 AS h FROM sig
         |  UNION ALL
         |  SELECT doc_id, sh, 1 AS band_id, band1 AS h FROM sig),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.h = b.h AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, jaccard FROM pairs
         |WHERE jaccard >= 0.2
         |ORDER BY doc_a, doc_b
         |LIMIT 500""".stripMargin,
    // current duplicate groups recomputed from the latest-image ground
    // truth, same text synthesis + dd01 fingerprint derivation
    "cdcm6_dedup_freshness" -> fpGroupsOracle(sfDir),
    // the compact-under-ingest twins share their steady-state siblings'
    // oracles VERBATIM: compaction must be invisible to the probe
    "cdcm8_compacted_ann_freshness" -> annFreshnessOracle(sfDir),
    // exact probe is invariant to the quantizer partition — the
    // requantized index must still brute-force-match the latest images
    "cdcm13_requantized_ann_freshness" -> annFreshnessOracle(sfDir),
    // cdcm17: WHO decided each requantize (the policy, not a schedule)
    // changes nothing the exact probe can see — same brute-force oracle
    "cdcm17_policy_requantize_freshness" -> annFreshnessOracle(sfDir),
    "cdcm9_compacted_fp_freshness" -> fpGroupsOracle(sfDir),
    "cdcm18_policy_compact_freshness" -> fpGroupsOracle(sfDir),
    // per-table full rebuilds over the multi-table ground truth: any
    // cross-table bleed in the routed indexes hash-fails a leg
    "cdcm10_multi_index_routing" ->
      s"""${multiRoutingLeg(sfDir, "d1")}
         |UNION ALL
         |${multiRoutingLeg(sfDir, "d2")}
         |ORDER BY tbl, r_sparse""".stripMargin,
    // heterogeneous fan-out: each structure kind rebuilt independently
    // from its own table's ground truth, united in the common shape
    "cdcm11_hetero_index_routing" ->
      s"""${heteroTextLeg(sfDir)}
         |UNION ALL
         |${heteroAnnLeg(sfDir)}
         |ORDER BY leg, r""".stripMargin,
    // three-way fan-out with staggered folds: each structure kind rebuilt
    // independently from its own table's ground truth — the folds (and
    // their per-structure fences) must be invisible to every leg
    "cdcm12_tri_fanout" ->
      s"""${heteroAnnLeg(sfDir)}
         |UNION ALL
         |${heteroFpLeg(sfDir)}
         |UNION ALL
         |${heteroTextLeg(sfDir)}
         |ORDER BY leg, r""".stripMargin,
    // the maintenance daemon: four independent full rebuilds over the
    // per-table ground truth — WHO chose each fold point (the four
    // policies) must be invisible to every probe. The cdcm11/12 legs
    // are reused verbatim, lifted into the pair-carrying shape; the
    // band leg replays the cdcm15 near-dup chain over d1.
    "cdcm19_policy_daemon_freshness" ->
      s"""SELECT leg, key_id AS key_a, CAST(-1 AS BIGINT) AS key_b, score, r
         |FROM (${heteroAnnLeg(sfDir)})
         |UNION ALL
         |${heteroBandLeg(sfDir)}
         |UNION ALL
         |SELECT leg, key_id AS key_a, CAST(-1 AS BIGINT) AS key_b, score, r
         |FROM (${heteroFpLeg(sfDir)})
         |UNION ALL
         |SELECT leg, key_id AS key_a, CAST(-1 AS BIGINT) AS key_b, score, r
         |FROM (${heteroTextLeg(sfDir)})
         |ORDER BY leg, r""".stripMargin,
    // both batch screens recomputed from the latest-image ground truth:
    // the fp leg is dd01's fingerprint self-join restricted to the
    // probe set (id % 7 = 0; only LIVE probes can answer, so deriving
    // probes from `latest` equals the gate's derive-from-log set), the
    // band leg is cdcm15's dd02 CTE chain — unlimited, since the
    // per-probe screens carry no report cap — restricted to pairs
    // containing a probe (a pair with BOTH members probed answers once
    // per probing member, exactly the per-doc loop's union)
    "cdcm21_batch_screen" ->
      s"""WITH latest AS (${latestImageOracle(sfDir)}),
         |g AS (
         |  SELECT id,
         |    md5(trim(regexp_replace(lower(word), '\\s+', ' ', 'g'))) AS fp
         |  FROM latest),
         |fpleg AS (
         |  SELECT 'fp' AS leg, CAST(a.id AS BIGINT) AS probe_id,
         |    CAST(b.id AS BIGINT) AS key_a, CAST(-1 AS BIGINT) AS key_b,
         |    CAST(1.0 AS DOUBLE) AS score
         |  FROM g a JOIN g b ON a.fp = b.fp AND a.id <> b.id
         |  WHERE a.id % 7 = 0),
         |docs AS (
         |  SELECT id AS doc_id,
         |    repeat(split_part(word, '_', 1) || ' ',
         |           CAST(1 + id % 3 AS INTEGER)) || word AS text
         |  FROM latest),
         |sh_t AS (SELECT doc_id, ${Dedup.duckShingles} AS sh FROM docs),
         |sig AS (SELECT doc_id, sh,
         |  md5(${Dedup.duckMinhash(0)} || '|' || ${Dedup.duckMinhash(1)}) AS band0,
         |  md5(${Dedup.duckMinhash(2)} || '|' || ${Dedup.duckMinhash(3)}) AS band1 FROM sh_t),
         |bands AS (
         |  SELECT doc_id, sh, 0 AS band_id, band0 AS h FROM sig
         |  UNION ALL
         |  SELECT doc_id, sh, 1 AS band_id, band1 AS h FROM sig),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.h = b.h AND a.doc_id < b.doc_id),
         |bandleg AS (
         |  SELECT 'band' AS leg, CAST(p.probe AS BIGINT) AS probe_id,
         |    CAST(p.doc_a AS BIGINT) AS key_a, CAST(p.doc_b AS BIGINT) AS key_b,
         |    p.jaccard AS score
         |  FROM (
         |    SELECT doc_a, doc_b, jaccard, doc_a AS probe FROM pairs
         |    WHERE jaccard >= 0.2 AND doc_a % 991 = 0
         |    UNION ALL
         |    SELECT doc_a, doc_b, jaccard, doc_b AS probe FROM pairs
         |    WHERE jaccard >= 0.2 AND doc_b % 991 = 0) p)
         |SELECT leg, probe_id, key_a, key_b, score FROM fpleg
         |UNION ALL
         |SELECT leg, probe_id, key_a, key_b, score FROM bandleg
         |ORDER BY leg, probe_id, key_a, key_b""".stripMargin,
    // the advice report's log rows recomputed from the same documents
    // arithmetic the gate plants: version count 1 + doc_id % 3 (fp) /
    // 1 (band), tombstone moduli 5 / 11, segment counts 3 / 20 — the
    // decisions and reasons follow from those numbers alone
    "cdcm20_advice_report" ->
      s"""WITH d AS (SELECT doc_id FROM documents),
         |fp AS (
         |  SELECT CAST(SUM(1 + doc_id % 3) AS BIGINT) AS n_rows,
         |    CAST(SUM(CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_live
         |  FROM d),
         |band AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    CAST(SUM(CASE WHEN doc_id % 11 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_live
         |  FROM d)
         |SELECT 'band_log' AS structure, 'log' AS kind, TRUE AS fold,
         |  CAST(-1 AS BIGINT) AS suggestion, n_live,
         |  CAST(n_rows AS DOUBLE) / n_live AS pressure,
         |  '20 committed segments > 16' AS reason
         |FROM band
         |UNION ALL
         |SELECT 'fp_log', 'log', FALSE, CAST(-1 AS BIGINT), n_live,
         |  CAST(n_rows AS DOUBLE) / n_live, 'healthy'
         |FROM fp
         |ORDER BY structure""".stripMargin,
    // brute-force MIPS over the latest images with the mm10-style
    // integer stub embeddings; probe vector = smallest id's embedding
    "cdcm5_ann_freshness" -> annFreshnessOracle(sfDir),
    "cdcb13_compressed_latest_image" ->
      latestImageOracle(sfDir),
    "cdcb12_partial_json_latest" ->
      s"""SELECT id, doc_md5
         |FROM read_csv('${fixturePathFor(sfDir)}/expected_partial.csv', header=true,
         |  columns={'id':'INTEGER','doc_md5':'VARCHAR'})
         |ORDER BY id""".stripMargin,
    "cdcb11_compressed_txn_scan" ->
      s"""SELECT _delta_type, COUNT(*) AS n_rows, CAST(SUM(id) AS BIGINT) AS sum_id,
         |  CAST(ROUND(SUM(CAST(val AS DECIMAL(38,10))), 2) AS DOUBLE) AS sum_val,
         |  COUNT(DISTINCT xid) AS n_xids
         |FROM ${expectedChangesRel(sfDir)}
         |GROUP BY _delta_type
         |ORDER BY _delta_type""".stripMargin,
    "cdcb10_row_metadata_scan" ->
      s"""SELECT _delta_type, COUNT(*) AS n_rows, CAST(SUM(id) AS BIGINT) AS sum_id,
         |  CAST(ROUND(SUM(CAST(val AS DECIMAL(38,10))), 2) AS DOUBLE) AS sum_val,
         |  COUNT(DISTINCT word) AS n_words
         |FROM ${expectedChangesRel(sfDir)}
         |GROUP BY _delta_type
         |ORDER BY _delta_type""".stripMargin,
    "cdcb9_rows_query_attach" ->
      s"""WITH c AS (
         |  SELECT _delta_type,
         |    CASE WHEN _delta_type = 'insert' THEN 'INSERT INTO bench.big /* xid=' || xid || ' */'
         |         WHEN _delta_type = 'delete' THEN 'DELETE FROM bench.big /* xid=' || xid || ' */'
         |         ELSE 'UPDATE bench.big /* xid=' || xid || ' */' END AS rows_query
         |  FROM ${expectedChangesRel(sfDir)})
         |SELECT _delta_type, COUNT(*) AS n_rows,
         |  COUNT(DISTINCT rows_query) AS n_statements,
         |  CAST(COUNT(*) AS BIGINT) AS n_xid_matched
         |FROM c
         |GROUP BY _delta_type
         |ORDER BY _delta_type""".stripMargin,
    "cdcb8_gtid_executed" -> {
      val rel =
        s"""read_csv('${fixturePathFor(sfDir)}/expected_gtids.csv', header=true, columns={
           |  'log_file':'VARCHAR','kind':'VARCHAR','gno':'BIGINT','xid':'BIGINT'})""".stripMargin
      s"""WITH gt AS (SELECT log_file, gno FROM $rel WHERE kind = 'txn'),
         |per AS (SELECT log_file, CAST(COUNT(*) AS BIGINT) AS n_txns,
         |          MIN(gno) AS first_gno, MAX(gno) AS last_gno
         |        FROM gt GROUP BY log_file),
         |prev AS (SELECT log_file, gno AS prev_end FROM $rel WHERE kind = 'prev')
         |SELECT p.log_file, '03142536-4758-697a-8b9c-adbecfe0f102' AS source_uuid,
         |  prev.prev_end, p.first_gno, p.last_gno, p.n_txns,
         |  CAST(CASE WHEN p.last_gno - p.first_gno + 1 = p.n_txns THEN 1 ELSE 0 END AS INTEGER) AS contiguous,
         |  CAST(CASE WHEN p.first_gno = prev.prev_end + 1 THEN 1 ELSE 0 END AS INTEGER) AS resumes_prev
         |FROM per p JOIN prev USING (log_file)
         |ORDER BY log_file""".stripMargin
    },
    "cdcb1_binlog_insert_scan" ->
      s"""SELECT log_file, log_pos, log_seq, xid, id, val, word
         |FROM ${expectedChangesRel(sfDir)}
         |WHERE _delta_type = 'insert'
         |ORDER BY log_file, log_pos, log_seq""".stripMargin,
    // identical ground truth to cdcb1: bounded admission must be
    // invisible in the result, whatever the batch seams were
    "cdcb20_bounded_admission" ->
      s"""SELECT log_file, log_pos, log_seq, xid, id, val, word
         |FROM ${expectedChangesRel(sfDir)}
         |WHERE _delta_type = 'insert'
         |ORDER BY log_file, log_pos, log_seq""".stripMargin,
    "cdcb2_binlog_update_pairs" ->
      s"""SELECT log_file, log_pos, log_seq, _delta_type, id, val
         |FROM ${expectedChangesRel(sfDir)}
         |WHERE _delta_type LIKE 'update%'
         |ORDER BY log_file, log_pos, log_seq""".stripMargin,
    "cdcb3_binlog_event_stats" ->
      s"""SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT xid) AS n_xids
         |FROM ${expectedEventsRel(sfDir)}
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin,
    "cdcb5_checksummed_scan" ->
      s"""SELECT _delta_type, COUNT(*) AS n_rows, CAST(SUM(id) AS BIGINT) AS sum_id,
         |  CAST(ROUND(SUM(CAST(val AS DECIMAL(38,10))), 2) AS DOUBLE) AS sum_val
         |FROM ${expectedChangesRel(sfDir)}
         |GROUP BY _delta_type
         |ORDER BY _delta_type""".stripMargin,
    "cdcb6_v2_rows_scan" ->
      s"""SELECT _delta_type, COUNT(*) AS n_rows, CAST(SUM(id) AS BIGINT) AS sum_id,
         |  CAST(ROUND(SUM(CAST(val AS DECIMAL(38,10))), 2) AS DOUBLE) AS sum_val,
         |  COUNT(DISTINCT xid) AS n_xids
         |FROM ${expectedChangesRel(sfDir)}
         |GROUP BY _delta_type
         |ORDER BY _delta_type""".stripMargin,
    "cdcb7_v2_event_stats" ->
      s"""SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT xid) AS n_xids
         |FROM ${expectedEventsRel(sfDir, "expected_events_v2.csv")}
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin,
    "cdcb4_binlog_latest_image" ->
      latestImageOracle(sfDir),
    "cdcb21_asof_image" ->
      s"""WITH ch AS (
         |  SELECT *, ${duckFileOrd("log_file")} AS fo
         |  FROM ${expectedChangesRel(sfDir)}),
         |dist AS (SELECT DISTINCT fo, log_file, log_pos FROM ch),
         |cut AS (
         |  SELECT fo AS cfo, log_pos AS cpos FROM (
         |    SELECT fo, log_pos,
         |      row_number() OVER (ORDER BY fo, log_file, log_pos) AS rn,
         |      COUNT(*) OVER () AS n
         |    FROM dist) WHERE rn = n // 2 + 1),
         |ranked AS (
         |  SELECT id, val, word, _delta_type,
         |    row_number() OVER (PARTITION BY id
         |      ORDER BY fo DESC, log_file DESC, log_pos DESC, log_seq DESC) AS rn
         |  FROM ch, cut
         |  WHERE _delta_type <> 'update-before'
         |    AND (fo < cfo OR (fo = cfo AND log_pos <= cpos)))
         |SELECT id, val, word FROM ranked
         |WHERE rn = 1 AND _delta_type <> 'delete'
         |ORDER BY id""".stripMargin)
}
