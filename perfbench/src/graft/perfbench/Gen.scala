package graft.perfbench

import java.io.{File, FileOutputStream}
import java.util.SplittableRandom

import scala.collection.mutable

import graft.binlog.BinlogWriter.{ColSpec, Writer}

/** One row change of `bench.kv` (id INT, n BIGINT, txt VARCHAR): an
  * insert, update or delete. `n` counts the versions of a key, so
  * (id, n) names one image; updates and deletes carry the previous image
  * as their before-image, as a full-row-image server logs it.
  */
final case class Change(kind: Char, id: Int, n: Long, txt: String,
                        prevN: Long, prevTxt: String)

/** A binlog coordinate ordered the way the source orders offsets:
  * numeric file extension first, then byte position.
  */
final case class Pos(file: Long, pos: Long) extends Ordered[Pos] {
  def compare(o: Pos): Int =
    if (file != o.file) java.lang.Long.compare(file, o.file)
    else java.lang.Long.compare(pos, o.pos)
}

object Kv {
  val Db = "bench"
  val Table = "kv"
  val TableId = 42L
  val Cols: Seq[ColSpec] = Seq(ColSpec.int, ColSpec.bigint, ColSpec.varchar(255))
  val PayloadDdl = "id INT, n BIGINT, txt STRING"
}

/** An append-only binlog directory in the byte format of a stock MySQL 8
  * server (ROWS_EVENT v2, CRC32 trailers, GTID + BEGIN framing, a
  * PREVIOUS_GTIDS header per file, a binlog.index) that rotates to the
  * next file once a transaction ends past `maxBytes` — the server's
  * `max_binlog_size`. Bytes already on disk are never rewritten: each
  * transaction appends only its own events.
  *
  * Events are encoded by the program's [[Writer]], one transaction at a
  * time, then relocated to their file offset: a v4 event header carries
  * its absolute end position (`next_position`, bytes 13–16), and the
  * CRC32 trailer covers the header. Encoding per transaction keeps the
  * generator's cost per transaction constant instead of growing with the
  * file.
  */
final class BinlogDir(val dir: File, maxBytes: Long = 1L << 20,
                      clock: () => Long = () => System.currentTimeMillis() / 1000)
  extends AutoCloseable {
  private var fileNo = 0L
  private var out: FileOutputStream = _
  private var gno = 0L
  private var headPos = Pos(0L, 0L)
  private val sizes = mutable.LinkedHashMap.empty[Long, Long]

  dir.mkdirs()
  open()

  private def name(no: Long): String = f"binlog.$no%06d"

  private def writer = new Writer(checksum = true, rowsV2 = true)

  private def open(): Unit = {
    fileNo += 1
    val ts = clock()
    out = new FileOutputStream(new File(dir, name(fileNo)), true)
    val head = writer.writeFormatDescription(ts, "8.0.36").writePreviousGtids(gno, ts = ts).toBytes
    out.write(head)
    out.flush()
    sizes(fileNo) = head.length.toLong
    headPos = Pos(fileNo, head.length.toLong)
    val idx = new FileOutputStream(new File(dir, "binlog.index"), true)
    try idx.write(s"./${name(fileNo)}\n".getBytes("US-ASCII")) finally idx.close()
  }

  /** Append the events `w` encoded (after its 4-byte magic) at the head. */
  private def put(w: Writer): Unit = {
    val all = w.toBytes
    val b = java.util.Arrays.copyOfRange(all, 4, all.length)
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val shift = headPos.pos - 4
    var off = 0
    while (off < b.length) {
      val len = bb.getInt(off + 9)
      bb.putInt(off + 13, (bb.getInt(off + 13) + shift).toInt)
      val crc = new java.util.zip.CRC32()
      crc.update(b, off, len - 4)
      bb.putInt(off + len - 4, crc.getValue.toInt)
      off += len
    }
    out.write(b)
    out.flush()
    headPos = Pos(fileNo, headPos.pos + b.length)
    sizes(fileNo) = headPos.pos
  }

  /** Append one committed transaction; returns its end coordinate. */
  def append(ts: Long, changes: Seq[Change]): Pos = synchronized {
    gno += 1
    val w = writer.writeGtid(gno, ts = ts).writeQuery(Kv.Db, "BEGIN", ts)
      .writeTableMap(Kv.TableId, Kv.Db, Kv.Table, Kv.Cols, ts)
    // one rows event per run of same-kind changes, in change order
    var i = 0
    while (i < changes.length) {
      val k = changes(i).kind
      var j = i
      while (j < changes.length && changes(j).kind == k) j += 1
      val run = changes.slice(i, j)
      k match {
        case 'i' => w.writeInsert(Kv.TableId, Kv.Cols, run.map(c => Seq(c.id, c.n, c.txt)), ts)
        case 'u' => w.writeUpdate(Kv.TableId, Kv.Cols,
          run.map(c => (Seq(c.id, c.prevN, c.prevTxt), Seq(c.id, c.n, c.txt))), ts)
        case 'd' => w.writeDelete(Kv.TableId, Kv.Cols, run.map(c => Seq(c.id, c.prevN, c.prevTxt)), ts)
      }
      i = j
    }
    put(w.writeXid(gno, ts))
    val end = headPos
    if (end.pos >= maxBytes) {
      put(writer.writeRotate(name(fileNo + 1), ts))
      out.close()
      open()
    }
    end
  }

  /** End of the last complete event on disk. */
  def head: Pos = synchronized(headPos)

  /** Bytes on disk after coordinate `p` (the source's backlog at `p`). */
  def bytesAfter(p: Pos): Long = synchronized {
    sizes.iterator.map { case (f, size) =>
      if (f > p.file) size else if (f == p.file) math.max(0L, size - p.pos) else 0L
    }.sum
  }

  def totalBytes: Long = synchronized(sizes.valuesIterator.sum)

  def files: Seq[File] = synchronized(sizes.keys.toSeq.map(n => new File(dir, name(n))))

  def close(): Unit = synchronized(out.close())
}

/** Zipf(s) ranks over `n` keys by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val a = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / math.pow(i + 1.0, s); a(i) = acc; i += 1 }
    i = 0
    while (i < n) { a(i) /= acc; i += 1 }
    a
  }
  def sample(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** How payload text is drawn. `Plain` is a versioned filler string;
  * `Screen` draws documents of which a controlled share are exact copies
  * or 1–2-word edits of a family text, so the fingerprint and LSH band
  * logs see real duplicate groups.
  */
sealed trait TextModel { def draw(r: SplittableRandom, id: Int, n: Long): String }

object TextModel {
  private val Vocab: IndexedSeq[String] = {
    val r = new SplittableRandom(7L)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    (0 until 2000).map(_ => (0 until (3 + r.nextInt(6))).map(_ => letters(r.nextInt(26))).mkString)
  }
  private def words(r: SplittableRandom, k: Int): IndexedSeq[String] =
    (0 until k).map(_ => Vocab(r.nextInt(Vocab.length)))

  object Plain extends TextModel {
    def draw(r: SplittableRandom, id: Int, n: Long): String =
      s"k$id v$n " + words(r, 6).mkString(" ")
  }

  final class Screen(families: Int, exactShare: Double, nearShare: Double,
                     seed: Long) extends TextModel {
    private val base: IndexedSeq[IndexedSeq[String]] = {
      val r = new SplittableRandom(seed ^ 0x5eedL)
      (0 until families).map(_ => words(r, 14))
    }
    def draw(r: SplittableRandom, id: Int, n: Long): String = {
      val u = r.nextDouble()
      val f = base(r.nextInt(families))
      if (u < exactShare) f.mkString(" ")
      else if (u < exactShare + nearShare) {
        val edited = f.toArray
        (0 until (1 + r.nextInt(2))).foreach(_ =>
          edited(r.nextInt(edited.length)) = Vocab(r.nextInt(Vocab.length)))
        edited.mkString(" ")
      } else words(r, 14).mkString(" ")
    }
  }
}

/** The seeded change source and its ground truth. Each key is inserted
  * when absent and otherwise updated (or, with `deleteShare`, deleted),
  * with keys drawn Zipf-skewed over a bounded key space so the live
  * table size — and with it the merge cost — stays level. Every draw
  * comes from one seeded stream, so a seed fixes every transaction.
  */
final class ChangeGen(seed: Long, keys: Int, skew: Double, deleteShare: Double,
                      text: TextModel) {
  private val r = new SplittableRandom(seed)
  private val zipf = new Zipf(keys, skew)
  /** id -> (n, txt) of every live key: the final state the program must reach. */
  val live: mutable.HashMap[Int, (Long, String)] = mutable.HashMap.empty
  private val versions = mutable.HashMap.empty[Int, Long]
  var rows = 0L

  def keyDraw(rr: SplittableRandom): Int = zipf.sample(rr)

  private def change(id: Int): Change = {
    val n = versions.getOrElse(id, -1L) + 1
    versions(id) = n
    rows += 1
    live.get(id) match {
      case None =>
        val t = text.draw(r, id, n)
        live(id) = (n, t)
        Change('i', id, n, t, -1L, null)
      case Some((pn, pt)) if r.nextDouble() < deleteShare =>
        live.remove(id)
        Change('d', id, n, null, pn, pt)
      case Some((pn, pt)) =>
        val t = text.draw(r, id, n)
        live(id) = (n, t)
        Change('u', id, n, t, pn, pt)
    }
  }

  /** One transaction of `size` distinct keys. */
  def txn(size: Int): Seq[Change] = {
    val ids = mutable.LinkedHashSet.empty[Int]
    while (ids.size < size) ids += zipf.sample(r)
    ids.toSeq.map(change)
  }

  /** One transaction inserting `size` fresh keys in order (a bulk load). */
  def load(from: Int, size: Int): Seq[Change] = (from until from + size).map(change)
}

/** Open-loop appender: transaction i is due at `start + i / rate` and is
  * written at its due time whether or not the program keeps up. Records
  * due time, write time and end coordinate of every transaction, so
  * latency is measured from the due time and the generator's own
  * lateness is visible.
  */
final class OpenLoop(bd: BinlogDir, txns: IndexedSeq[Seq[Change]], rate: Double)
  extends Thread("perfbench-generator") {
  setDaemon(true)
  val dueNs = new Array[Long](txns.length)
  val writtenNs = new Array[Long](txns.length)
  val end = new Array[Pos](txns.length)
  @volatile var written = 0
  @volatile var startNs = 0L

  def begin(): Unit = { startNs = System.nanoTime(); start() }

  override def run(): Unit = {
    var i = 0
    while (i < txns.length) {
      val due = startNs + (i * 1e9 / rate).toLong
      var now = System.nanoTime()
      while (now < due) {
        java.util.concurrent.locks.LockSupport.parkNanos(due - now)
        now = System.nanoTime()
      }
      dueNs(i) = due
      end(i) = bd.append((Clock.epochMs(due) / 1000).toLong, txns(i))
      writtenNs(i) = System.nanoTime()
      i += 1
      written = i
    }
  }

  def lateMs: Seq[Double] = (0 until written).map(i => (writtenNs(i) - dueNs(i)) / 1e6)
}

/** One wall clock for nanoTime stamps and Spark's epoch-ms event times. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
  val startMs: Double = baseMs
  def nowMs: Double = epochMs(System.nanoTime())
}
