package graft.binlog

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.{Charset, StandardCharsets}

/** Optional TABLE_MAP metadata for fixture logs (`binlog_row_metadata`):
  * what a MySQL 8.0 server emits alongside the 2010 layout. `unsigned` is
  * the set of FULL column indexes flagged UNSIGNED; `charsetOverrides`
  * maps full column index → collation id for DEFAULT_CHARSET pairs;
  * `columnCharsets` is the per-character-column collation list for the
  * COLUMN_CHARSET (3) representation (mutually exclusive with
  * defaultCharset on a real server; the writer emits whichever is set).
  * `enumValues`/`setValues` list literals per ENUM/SET column in column
  * order.
  */
/** After-image marker for [[BinlogWriter.Writer.writePartialUpdate]]: this
  * JSON column's value travels as a diff sequence, not a full document.
  */
final case class PartialJson(diffs: Seq[MySqlJsonAst.JsonDiff])

final case class TableMeta(
    names: Seq[String] = Nil,
    unsigned: Set[Int] = Set.empty,
    defaultCharset: Int = 0,
    charsetOverrides: Map[Int, Int] = Map.empty,
    columnCharsets: Seq[Int] = Nil,
    enumValues: Seq[Seq[String]] = Nil,
    setValues: Seq[Seq[String]] = Nil,
    primaryKey: Seq[Int] = Nil)

/** v4 binlog fixture encoder (test/demo side of the engine).
  *
  * No live mysqld exists in this environment, so tests synthesize binlog
  * bytes from the layouts documented in the reference
  * (`/root/reference/src/cdc/mysql_binlog.clj:295-314` header, `330-342`
  * FDE, `355-384` query, `500-523` table map, `611-682` rows events) —
  * realizing the reference author's recorded test plan
  * (`mysql_binlog.clj:981-985`) deterministically.
  *
  * Column spec mini-DSL: `ColSpec(mysqlType, meta)` with helpers for the
  * reference's three declared types (varchar / int / decimal).
  */
object BinlogWriter {

  /** Fixed source UUID for fixture GTIDs (deterministic logs). */
  val FixtureUuid: Array[Byte] =
    (0 until 16).map(i => ((i * 17 + 3) & 0xff).toByte).toArray

  /** 8-byte little-endian encoding — the shared helper for fixture writers
    * producing raw USER_VAR-style value bytes outside a [[Writer]].
    */
  def leLong(v: Long): Array[Byte] = {
    val a = new Array[Byte](8)
    var i = 0
    while (i < 8) { a(i) = ((v >> (i * 8)) & 0xff).toByte; i += 1 }
    a
  }

  final case class ColSpec(typeId: Int, meta: Int)
  object ColSpec {
    def varchar(maxLen: Int): ColSpec = ColSpec(ColType.Varchar, maxLen)
    def int: ColSpec = ColSpec(ColType.Long, 0)
    def decimal(precision: Int, scale: Int): ColSpec =
      ColSpec(ColType.NewDecimal, precision | (scale << 8))
    def tiny: ColSpec = ColSpec(ColType.Tiny, 0)
    def bigint: ColSpec = ColSpec(ColType.LongLong, 0)
    def double: ColSpec = ColSpec(ColType.Double, 8)
    def date: ColSpec = ColSpec(ColType.Date, 0)
    def time: ColSpec = ColSpec(ColType.Time, 0)
    def datetime: ColSpec = ColSpec(ColType.Datetime, 0)
    def blob(lenBytes: Int = 2): ColSpec = ColSpec(ColType.Blob, lenBytes)
    /** JSON column (type 245): server meta = 4 length-prefix bytes. */
    def json: ColSpec = ColSpec(ColType.Json, 4)
    def bit(bits: Int): ColSpec = ColSpec(ColType.Bit, (bits % 8) | (((bits + 7) / 8) << 8))
    // 5.6+ fractional-second temporals; meta = fsp (0..6)
    def datetime2(fsp: Int = 0): ColSpec = ColSpec(ColType.Datetime2, fsp)
    def timestamp2(fsp: Int = 0): ColSpec = ColSpec(ColType.Timestamp2, fsp)
    def time2(fsp: Int = 0): ColSpec = ColSpec(ColType.Time2, fsp)
    // ENUM/SET travel in TABLE_MAP as STRING with the real type danced into
    // the metadata high byte (`mysql_binlog.clj:560-580`); values are the
    // 1/2-byte ordinal (ENUM) or the meta-byte-wide LE bitset (SET)
    def enum(nValues: Int): ColSpec =
      ColSpec(ColType.String, (ColType.Enum << 8) | (if (nValues > 255) 2 else 1))
    def set(nValues: Int): ColSpec =
      ColSpec(ColType.String, (ColType.Set << 8) | ((nValues + 7) / 8))
    /** CHAR(n bytes): STRING with the len-bits dance in the metadata high
      * byte (`Field_string::do_save_field_metadata` — lengths above 255
      * fold two bits into byte0).
      */
    def char(maxLenBytes: Int): ColSpec = {
      require(maxLenBytes <= 1023, s"CHAR metadata caps at 1023 bytes, got $maxLenBytes")
      val b0 = ColType.String ^ ((maxLenBytes & 0x300) >> 4)
      ColSpec(ColType.String, (b0 << 8) | (maxLenBytes & 0xff))
    }
  }

  /** `checksum = true` emits a post-5.6.6-style log: the FDE carries
    * BINLOG_CHECKSUM_ALG_CRC32 and every event (FDE included) gets a
    * 4-byte CRC32 trailer counted in event_len — the format any modern
    * MySQL writes by default (`binlog_checksum=CRC32`).
    *
    * `rowsV2 = true` emits ROWS_EVENT v2 (ids 30-32, every server
    * >= 5.6.2): same body behind a 2-byte extra-data-length post-header
    * field. Combined with `checksum` this is the byte format a stock
    * MySQL 5.7/8.x produces.
    */
  /** `nested = true` produces a TRANSACTION_PAYLOAD inner stream: no magic,
    * positions from 0, and never checksummed (the server writes inner
    * events un-checksummed regardless of binlog_checksum).
    */
  final class Writer(serverId: Long = 1L, charset: Charset = StandardCharsets.ISO_8859_1,
                     checksum: Boolean = false, rowsV2: Boolean = false,
                     nested: Boolean = false) {
    require(!(nested && checksum), "inner payload events are never checksummed")
    private val out = new ByteArrayOutputStream()
    if (!nested) out.write(BinlogReader.Magic)
    private var pos: Long = if (nested) 0L else 4L

    def position: Long = pos

    private def le(n: Int)(v: Long): Array[Byte] = {
      val a = new Array[Byte](n)
      var i = 0
      while (i < n) { a(i) = ((v >> (i * 8)) & 0xff).toByte; i += 1 }
      a
    }

    /** header + body [+ CRC32 trailer]; next_position = end of this event (v4). */
    private def event(eventType: Int, timestamp: Long, body: Array[Byte]): Unit = {
      val csLen = if (checksum) 4 else 0
      val len = 19L + body.length + csLen
      val e = new ByteArrayOutputStream()
      e.write(le(4)(timestamp))
      e.write(Array((eventType & 0xff).toByte))
      e.write(le(4)(serverId))
      e.write(le(4)(len))
      e.write(le(4)(pos + len))
      e.write(le(2)(0))
      e.write(body)
      if (checksum) {
        val crc = new java.util.zip.CRC32()
        crc.update(e.toByteArray)
        e.write(le(4)(crc.getValue))
      }
      out.write(e.toByteArray)
      pos += len
    }

    def writeFormatDescription(ts: Long = 0L, serverVersion: String = ""): this.type = {
      // version string selects checksum-era parsing on the read side
      val sv0 = if (serverVersion.nonEmpty) serverVersion
                else if (checksum) "5.6.30-graft-fixture" else "5.1.0-graft-fixture"
      if (checksum) {
        // readers gate checksum detection on the version (the alg byte only
        // exists post-5.6.1) — a checksummed log claiming an older server
        // would decode 4 trailer bytes into every event tail downstream
        val p = sv0.takeWhile(c => c.isDigit || c == '.').split('.')
        def n(i: Int) = if (i < p.length && p(i).nonEmpty) p(i).toInt else 0
        require(n(0) > 5 || (n(0) == 5 && (n(1) > 6 || (n(1) == 6 && n(2) >= 1))),
          s"checksum=true requires serverVersion >= 5.6.1 (got '$sv0') — readers would not detect the trailers")
      }
      val b = new ByteArrayOutputStream()
      b.write(le(2)(4))
      val sv = new Array[Byte](50)
      val svb = sv0.getBytes(StandardCharsets.UTF_8)
      System.arraycopy(svb, 0, sv, 0, math.min(svb.length, 50))
      b.write(sv)
      b.write(le(4)(ts))
      b.write(Array(19.toByte)) // header_length
      b.write(new Array[Byte](27)) // post-header length table (unused by reader)
      if (checksum) b.write(Array(1.toByte)) // BINLOG_CHECKSUM_ALG_CRC32
      event(EventType.FormatDescription, ts, b.toByteArray)
      this
    }

    def writeQuery(db: String, sql: String, ts: Long = 0L, threadId: Long = 1L): this.type = {
      val b = new ByteArrayOutputStream()
      val dbb = db.getBytes(charset)
      b.write(le(4)(threadId))
      b.write(le(4)(0)) // exec time
      b.write(Array(dbb.length.toByte))
      b.write(le(2)(0)) // error code
      b.write(le(2)(0)) // status block len
      b.write(dbb); b.write(Array(0.toByte))
      b.write(sql.getBytes(charset))
      event(EventType.Query, ts, b.toByteArray)
      this
    }

    def writeTableMap(tableId: Long, db: String, table: String,
                      cols: Seq[ColSpec], ts: Long = 0L,
                      optMeta: TableMeta = null): this.type = {
      val b = new ByteArrayOutputStream()
      b.write(le(6)(tableId))
      b.write(le(2)(0)) // flags
      val dbb = db.getBytes(charset)
      b.write(Array(dbb.length.toByte)); b.write(dbb); b.write(Array(0.toByte))
      val tb = table.getBytes(charset)
      b.write(Array(tb.length.toByte)); b.write(tb); b.write(Array(0.toByte))
      writePackedInt(b, cols.length)
      cols.foreach(c => b.write(Array((c.typeId & 0xff).toByte)))
      val metaBytes = new ByteArrayOutputStream()
      cols.foreach { c =>
        ColType.metadataLengths(c.typeId) match {
          case 0 =>
          case 1 => metaBytes.write(Array((c.meta & 0xff).toByte))
          case 2 =>
            // STRING metadata travels big-endian [real_type ^ len-bits,
            // length] on the wire (see readTableMap); the rest LE
            if (c.typeId == ColType.String) {
              metaBytes.write(Array(((c.meta >> 8) & 0xff).toByte, (c.meta & 0xff).toByte))
            } else metaBytes.write(le(2)(c.meta.toLong))
        }
      }
      writePackedInt(b, metaBytes.size())
      b.write(metaBytes.toByteArray)
      // null-default bitmap — present in every real server's TABLE_MAP
      // (readers that predate it, like the reference, simply stop early)
      b.write(new Array[Byte]((cols.length + 7) / 8))
      if (optMeta != null) writeOptionalMeta(b, cols, optMeta)
      event(EventType.TableMap, ts, b.toByteArray)
      this
    }

    /** `binlog_row_metadata` TLV block (MySQL 8.0 WL#4618 wire format). */
    private def writeOptionalMeta(b: ByteArrayOutputStream, cols: Seq[ColSpec],
                                  m: TableMeta): Unit = {
      def tlv(fieldType: Int, body: Array[Byte]): Unit = {
        b.write(Array(fieldType.toByte))
        writePackedInt(b, body.length.toLong)
        b.write(body)
      }
      def packedStr(o: ByteArrayOutputStream, s: String): Unit = {
        val a = s.getBytes(StandardCharsets.UTF_8)
        writePackedInt(o, a.length.toLong)
        o.write(a)
      }
      val real = cols.map(c => ColType.realType(c.typeId, c.meta))
      val numericIdx = real.zipWithIndex.collect { case (t, i) if ColType.isNumeric(t) => i }
      if (numericIdx.nonEmpty) {
        // real servers always write SIGNEDNESS when numeric columns exist
        // (all-false is meaningful: it overrides any reader-side unsigned
        // configuration); MSB-first bitmap over numeric columns only
        val bits = new Array[Byte]((numericIdx.length + 7) / 8)
        numericIdx.zipWithIndex.foreach { case (col, k) =>
          if (m.unsigned.contains(col)) bits(k / 8) = (bits(k / 8) | (1 << (7 - k % 8))).toByte
        }
        tlv(1, bits)
      }
      if (m.defaultCharset > 0) {
        val o = new ByteArrayOutputStream()
        writePackedInt(o, m.defaultCharset.toLong)
        // pairs re-index to character-column position, as the server writes
        val charIdx = cols.zipWithIndex.collect {
          case (c, i) if ColType.isCharacter(c.typeId, c.meta) => i }
        m.charsetOverrides.toSeq.sortBy(_._1).foreach { case (col, coll) =>
          val k = charIdx.indexOf(col)
          require(k >= 0, s"charset override for non-character column $col")
          writePackedInt(o, k.toLong)
          writePackedInt(o, coll.toLong)
        }
        tlv(2, o.toByteArray)
      }
      if (m.columnCharsets.nonEmpty) {
        val o = new ByteArrayOutputStream()
        m.columnCharsets.foreach(coll => writePackedInt(o, coll.toLong))
        tlv(3, o.toByteArray)
      }
      if (m.names.nonEmpty) {
        require(m.names.length == cols.length,
          s"TableMeta.names has ${m.names.length} entries for ${cols.length} columns")
        val o = new ByteArrayOutputStream()
        m.names.foreach(packedStr(o, _))
        tlv(4, o.toByteArray)
      }
      def strValues(fieldType: Int, colType: Int, values: Seq[Seq[String]]): Unit =
        if (values.nonEmpty) {
          val o = new ByteArrayOutputStream()
          require(values.length == real.count(_ == colType),
            s"need one literal list per ${if (colType == ColType.Enum) "ENUM" else "SET"} column")
          values.foreach { vs =>
            writePackedInt(o, vs.length.toLong)
            vs.foreach(packedStr(o, _))
          }
          tlv(fieldType, o.toByteArray)
        }
      strValues(5, ColType.Set, m.setValues)
      strValues(6, ColType.Enum, m.enumValues)
      if (m.primaryKey.nonEmpty) {
        val o = new ByteArrayOutputStream()
        m.primaryKey.foreach(i => writePackedInt(o, i.toLong))
        tlv(8, o.toByteArray)
      }
    }

    /** big-endian fixed-width write (5.6+ temporals only). */
    private def be(n: Int)(v: Long): Array[Byte] = {
      val a = new Array[Byte](n)
      var i = 0
      while (i < n) { a(n - 1 - i) = ((v >> (i * 8)) & 0xff).toByte; i += 1 }
      a
    }

    /** frac tail: n = ceil(fsp/2) BE bytes of micros / 100^(3-n) — the unit
      * follows the BYTE count, not fsp (my_time.cc my_datetime_to_binary).
      */
    private def writeFrac(b: ByteArrayOutputStream, fsp: Int, usec: Int): Unit = {
      val n = (fsp + 1) / 2
      if (n > 0) {
        var scale = 1L
        var i = n
        while (i < 3) { scale *= 100; i += 1 }
        b.write(be(n)(usec / scale))
      }
    }

    private def writePackedInt(b: ByteArrayOutputStream, v: Long): Unit = {
      if (v <= 250) b.write(Array(v.toByte))
      else if (v <= 0xffff) { b.write(Array(252.toByte)); b.write(le(2)(v)) }
      else if (v <= 0xffffff) { b.write(Array(253.toByte)); b.write(le(3)(v)) }
      else { b.write(Array(254.toByte)); b.write(le(8)(v)) }
    }

    private def encodeValue(b: ByteArrayOutputStream, spec: ColSpec, v: Any): Unit = spec.typeId match {
      case ColType.String if spec.meta >= 256 && (spec.meta >> 8) == ColType.Enum =>
        val n = v.asInstanceOf[Number].intValue
        if ((spec.meta & 0xff) == 1) b.write(Array(n.toByte)) else b.write(le(2)(n.toLong))
      case ColType.String if spec.meta >= 256 && (spec.meta >> 8) == ColType.Set =>
        b.write(le(spec.meta & 0xff)(v.asInstanceOf[Number].longValue))
      case ColType.String if spec.meta >= 256 =>
        // danced CHAR: real max length from the len-bits dance decides the
        // 1- vs 2-byte length prefix (mirrors readField)
        val byte0 = (spec.meta >> 8) & 0xff
        val byte1 = spec.meta & 0xff
        val maxLen =
          if ((byte0 & 0x30) != 0x30) byte1 | (((byte0 & 0x30) ^ 0x30) << 4) else byte1
        val s = v.toString.getBytes(charset)
        if (maxLen < 256) b.write(Array(s.length.toByte)) else b.write(le(2)(s.length.toLong))
        b.write(s)
      case ColType.Varchar | ColType.VarString | ColType.String =>
        val s = v.toString.getBytes(charset)
        if (spec.meta < 256) b.write(Array(s.length.toByte))
        else b.write(le(2)(s.length.toLong))
        b.write(s)
      case ColType.Long => b.write(le(4)(v.asInstanceOf[Number].intValue.toLong & 0xffffffffL))
      case ColType.Tiny => b.write(Array(v.asInstanceOf[Number].byteValue))
      case ColType.LongLong => b.write(le(8)(v.asInstanceOf[Number].longValue))
      case ColType.Double =>
        val a = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
          .putDouble(v.asInstanceOf[Number].doubleValue).array()
        b.write(a)
      case ColType.Date =>
        val ld = v.asInstanceOf[java.time.LocalDate]
        b.write(le(3)((ld.getDayOfMonth | (ld.getMonthValue << 5) | (ld.getYear << 9)).toLong))
      case ColType.Time =>
        val lt = v.asInstanceOf[java.time.LocalTime]
        b.write(le(3)((lt.getHour * 10000 + lt.getMinute * 100 + lt.getSecond).toLong))
      case ColType.Datetime =>
        val dt = v.asInstanceOf[java.time.LocalDateTime]
        val packed = (dt.getYear.toLong * 10000L + dt.getMonthValue * 100L + dt.getDayOfMonth) * 1000000L +
          dt.getHour * 10000L + dt.getMinute * 100L + dt.getSecond
        b.write(le(8)(packed))
      case ColType.Blob | ColType.Geometry | ColType.Json =>
        val a = v.asInstanceOf[Array[Byte]]
        b.write(le(spec.meta)(a.length.toLong))
        b.write(a)
      case ColType.Bit =>
        val nb = spec.meta >> 8
        val x = v.asInstanceOf[Number].longValue
        val a = new Array[Byte](nb)
        var i = 0
        while (i < nb) { a(nb - 1 - i) = ((x >> (i * 8)) & 0xff).toByte; i += 1 }
        b.write(a)
      case ColType.Datetime2 =>
        val dt = v.asInstanceOf[java.time.LocalDateTime]
        val packed = 0x8000000000L +
          ((((dt.getYear.toLong * 13) + dt.getMonthValue) << 22) |
            (dt.getDayOfMonth.toLong << 17) | (dt.getHour.toLong << 12) |
            (dt.getMinute.toLong << 6) | dt.getSecond.toLong)
        b.write(be(5)(packed))
        writeFrac(b, spec.meta, dt.getNano / 1000)
      case ColType.Timestamp2 =>
        val dt = v.asInstanceOf[java.time.LocalDateTime]
        b.write(be(4)(dt.toEpochSecond(java.time.ZoneOffset.UTC)))
        writeFrac(b, spec.meta, dt.getNano / 1000)
      case ColType.Time2 =>
        // one signed packed quantity ((H<<12|M<<6|S) << 24) + micros,
        // stored per my_time.cc my_time_to_binary: negative values reach
        // disk as the arithmetic-shifted int part + sign-adjusted frac
        // (fsp 1-4) or as a single 6-byte offset-binary value (fsp 5-6).
        // Micros are truncated toward zero to the STORAGE unit
        // (100^(3-ceil(fsp/2))) BEFORE packing — a real server never emits
        // sub-unit precision, and packing an unaligned negative value
        // would drop the remainder from the frac field while the
        // arithmetic-shifted int part already floor-rounded: off by a
        // whole second on disk, not merely truncated.
        val unit = Array(1000000, 10000, 100, 1)((spec.meta + 1) / 2)
        def trunc(usec: Int): Long = (usec / unit).toLong * unit
        val packed: Long = v match {
          case lt: java.time.LocalTime =>
            (((lt.getHour.toLong << 12) | (lt.getMinute.toLong << 6) | lt.getSecond.toLong) << 24) +
              trunc(lt.getNano / 1000)
          case d: java.time.Duration =>
            val ad = d.abs
            val s = ad.getSeconds
            val p = ((((s / 3600) << 12) | (((s % 3600) / 60) << 6) | (s % 60)) << 24) +
              trunc(ad.getNano / 1000)
            if (d.isNegative) -p else p
          case other => throw new IllegalArgumentException(
            s"TIME2 fixture value must be LocalTime or Duration, got $other")
        }
        (spec.meta + 1) / 2 match {
          case 0 => b.write(be(3)(0x800000L + (packed >> 24)))
          case 1 =>
            b.write(be(3)(0x800000L + (packed >> 24)))
            b.write(Array(((packed % (1L << 24)) / 10000L).toByte))
          case 2 =>
            b.write(be(3)(0x800000L + (packed >> 24)))
            b.write(be(2)(((packed % (1L << 24)) / 100L) & 0xffffL))
          case _ => b.write(be(6)(0x800000000000L + packed))
        }
      case ColType.NewDecimal =>
        val precision = spec.meta & 0xff
        val scale = spec.meta >> 8
        val dec = v match {
          case d: java.math.BigDecimal => d
          case d: BigDecimal => d.bigDecimal
          case s => new java.math.BigDecimal(s.toString)
        }
        b.write(MySqlDecimal.encode(dec, precision, scale))
      case other => throw new IllegalArgumentException(s"fixture writer: unsupported type $other")
    }

    /** Rows are Seq[Any] matching `cols`; `null` entries set the null bit.
      * `usedMask` (binlog_row_image=MINIMAL shape): columns with a false
      * bit are absent from the image entirely — image seqs then list only
      * the used columns' values, and the reader yields
      * [[graft.binlog.RowImage.Unused]] for the rest
      * (`mysql_binlog.clj:593-608`). `afterMask` (updates only) lets the
      * after image carry a DIFFERENT column set (a real MINIMAL update
      * logs the PK before and only changed columns after); defaults to
      * `usedMask`. Per-image null bitmaps cover only that image's used
      * columns (reader: `bitfield(b, countBits(usedCols))`).
      */
    private def rowsBody(tableId: Long, cols: Seq[ColSpec],
                         images: Seq[Seq[Seq[Any]]],
                         usedMask: Seq[Boolean],
                         afterMask: Seq[Boolean] = null): Array[Byte] = {
      // images: per row, 1 (write/delete) or 2 (update before+after) images
      val b = new ByteArrayOutputStream()
      b.write(le(6)(tableId))
      b.write(le(2)(0)) // flags
      if (rowsV2) b.write(le(2)(2)) // extra-data length (self-inclusive, empty)
      writePackedInt(b, cols.length)
      def maskBytes(m: Seq[Boolean]): Array[Byte] = {
        val a = new Array[Byte]((cols.length + 7) / 8)
        m.zipWithIndex.foreach { case (u, i) =>
          if (u) a(i / 8) = (a(i / 8) | (1 << (i % 8))).toByte }
        a
      }
      val mask2 = if (afterMask != null) afterMask else usedMask
      b.write(maskBytes(usedMask))
      if (images.head.length == 2) b.write(maskBytes(mask2)) // after-image bitfield
      val specsByImage = Seq(
        cols.zip(usedMask).collect { case (c, true) => c },
        cols.zip(mask2).collect { case (c, true) => c })
      images.foreach { row =>
        row.zipWithIndex.foreach { case (img, k) =>
          writeImage(b, specsByImage(k), img)
        }
      }
      b.toByteArray
    }

    private def allUsed(n: Int): Seq[Boolean] = Seq.fill(n)(true)
    private def writeT = if (rowsV2) EventType.WriteRowsV2 else EventType.WriteRows
    private def updateT = if (rowsV2) EventType.UpdateRowsV2 else EventType.UpdateRows
    private def deleteT = if (rowsV2) EventType.DeleteRowsV2 else EventType.DeleteRows

    def writeInsert(tableId: Long, cols: Seq[ColSpec], rows: Seq[Seq[Any]], ts: Long = 0L): this.type = {
      event(writeT, ts, rowsBody(tableId, cols, rows.map(Seq(_)), allUsed(cols.length)))
      this
    }

    /** Partial-image insert: only masked-true columns appear in each row. */
    def writeInsertMasked(tableId: Long, cols: Seq[ColSpec], usedMask: Seq[Boolean],
                          rows: Seq[Seq[Any]], ts: Long = 0L): this.type = {
      event(writeT, ts, rowsBody(tableId, cols, rows.map(Seq(_)), usedMask))
      this
    }

    def writeDelete(tableId: Long, cols: Seq[ColSpec], rows: Seq[Seq[Any]], ts: Long = 0L): this.type = {
      event(deleteT, ts, rowsBody(tableId, cols, rows.map(Seq(_)), allUsed(cols.length)))
      this
    }

    def writeUpdate(tableId: Long, cols: Seq[ColSpec],
                    rows: Seq[(Seq[Any], Seq[Any])], ts: Long = 0L): this.type = {
      event(updateT, ts, rowsBody(tableId, cols, rows.map(r => Seq(r._1, r._2)), allUsed(cols.length)))
      this
    }

    /** `binlog_row_image=MINIMAL`-shaped UPDATE: DISTINCT before/after
      * column masks (a real server logs the PK columns in the before
      * image and only the changed columns in the after image); image
      * seqs list only their mask's columns, the reader yields
      * [[graft.binlog.RowImage.Unused]] for the rest.
      */
    def writeUpdateMasked(tableId: Long, cols: Seq[ColSpec],
                          beforeMask: Seq[Boolean], afterMask: Seq[Boolean],
                          rows: Seq[(Seq[Any], Seq[Any])], ts: Long = 0L): this.type = {
      event(updateT, ts,
        rowsBody(tableId, cols, rows.map(r => Seq(r._1, r._2)), beforeMask, afterMask))
      this
    }

    /** PARTIAL_UPDATE_ROWS (type 39, `binlog_row_value_options=
      * PARTIAL_JSON`): UPDATE whose after-image JSON values may be
      * [[MySqlJsonAst.JsonDiff]] sequences (pass
      * `PartialJson(diffs)` in the after image at that column) instead of
      * full documents. Layout = UPDATE v2 with each after-image preceded
      * by packed value_options (+ partial_bits over the table's JSON
      * columns when any diff is present).
      */
    def writePartialUpdate(tableId: Long, cols: Seq[ColSpec],
                           rows: Seq[(Seq[Any], Seq[Any])], ts: Long = 0L): this.type = {
      val jsonCols = cols.zipWithIndex.collect {
        case (c, i) if ColType.realType(c.typeId, c.meta) == ColType.Json => i }
      val b = new ByteArrayOutputStream()
      b.write(le(6)(tableId))
      b.write(le(2)(0)) // flags
      b.write(le(2)(2)) // v2 extra-data length (self-inclusive, empty)
      writePackedInt(b, cols.length)
      val used = new Array[Byte]((cols.length + 7) / 8)
      cols.indices.foreach(i => used(i / 8) = (used(i / 8) | (1 << (i % 8))).toByte)
      b.write(used); b.write(used) // before + after bitmaps (all columns)
      rows.foreach { case (before, after) =>
        writeImage(b, cols, before)
        val partialCols = after.zipWithIndex.collect {
          case (PartialJson(_), i) => i }.toSet
        if (partialCols.isEmpty) {
          writePackedInt(b, 0L) // value_options: plain full after-image
          writeImage(b, cols, after)
        } else {
          writePackedInt(b, 1L) // PARTIAL_JSON
          val bits = new Array[Byte]((jsonCols.length + 7) / 8)
          jsonCols.zipWithIndex.foreach { case (col, ord) =>
            if (partialCols.contains(col))
              bits(ord / 8) = (bits(ord / 8) | (1 << (ord % 8))).toByte
          }
          b.write(bits)
          val nulls = new Array[Byte]((cols.length + 7) / 8)
          after.zipWithIndex.foreach { case (v, i) =>
            if (v == null) nulls(i / 8) = (nulls(i / 8) | (1 << (i % 8))).toByte
          }
          b.write(nulls)
          after.zipWithIndex.foreach {
            case (null, _) =>
            case (PartialJson(diffs), i) =>
              val body = encodeJsonDiffs(diffs)
              b.write(le(cols(i).meta)(body.length.toLong))
              b.write(body)
            case (v, i) => encodeValue(b, cols(i), v)
          }
        }
      }
      event(EventType.PartialUpdateRows, ts, b.toByteArray)
      this
    }

    /** One full row image: null bitmap over all columns + values. */
    private def writeImage(b: ByteArrayOutputStream, cols: Seq[ColSpec],
                           img: Seq[Any]): Unit = {
      require(img.length == cols.length,
        s"image has ${img.length} values for ${cols.length} columns")
      val nulls = new Array[Byte]((cols.length + 7) / 8)
      img.zipWithIndex.foreach { case (v, i) =>
        if (v == null) nulls(i / 8) = (nulls(i / 8) | (1 << (i % 8))).toByte
      }
      b.write(nulls)
      img.zipWithIndex.foreach { case (v, i) =>
        if (v != null) encodeValue(b, cols(i), v)
      }
    }

    private def encodeJsonDiffs(diffs: Seq[MySqlJsonAst.JsonDiff]): Array[Byte] = {
      val o = new ByteArrayOutputStream()
      diffs.foreach { d =>
        o.write(Array(d.op.toByte))
        val p = d.path.getBytes(StandardCharsets.UTF_8)
        writePackedInt(o, p.length.toLong)
        o.write(p)
        d.value.foreach { v =>
          val enc = MySqlJsonAst.encode(v)
          writePackedInt(o, enc.length.toLong)
          o.write(enc)
        }
      }
      o.toByteArray
    }

    /** MariaDB ANNOTATE_ROWS (160): bare statement text. */
    def writeAnnotateRows(sql: String, ts: Long = 0L): this.type = {
      event(EventType.MariaAnnotateRows, ts, sql.getBytes(charset))
      this
    }

    /** Arbitrary event body — fixture-side stand-in for event types this
      * engine passes through opaque (MariaDB GTID framing etc.).
      */
    def writeOpaque(eventType: Int, body: Array[Byte], ts: Long = 0L): this.type = {
      event(eventType, ts, body)
      this
    }

    /** ROWS_QUERY (id 29): stored-length byte + SQL text. */
    def writeRowsQuery(sql: String, ts: Long = 0L): this.type = {
      val b = new ByteArrayOutputStream()
      val sb = sql.getBytes(charset)
      b.write(Array(math.min(sb.length, 255).toByte))
      b.write(sb)
      event(EventType.RowsQuery, ts, b.toByteArray)
      this
    }

    /** GTID / ANONYMOUS_GTID frame (ids 33/34): commit flag + 16-byte
      * source UUID + 8-byte LE GNO.
      */
    def writeGtid(gno: Long, sourceUuid: Array[Byte] = BinlogWriter.FixtureUuid,
                  anonymous: Boolean = false, ts: Long = 0L): this.type = {
      require(sourceUuid.length == 16, "source UUID must be 16 bytes")
      val b = new ByteArrayOutputStream()
      b.write(Array(1.toByte)) // commit flag
      b.write(sourceUuid)
      b.write(le(8)(gno))
      event(if (anonymous) EventType.AnonymousGtid else EventType.Gtid, ts, b.toByteArray)
      this
    }

    /** One prefix-varint in mysql::serialization's encoding (the exact
      * inverse of [[BinlogReader.readPrefixVarint]]): total bytes m has
      * m-1 trailing one-bits then a zero in the first byte, value bits
      * fill the rest little-endian; 0xFF + 8 raw LE bytes past 2⁵⁶.
      */
    private def prefixVarint(b: ByteArrayOutputStream, v: Long): Unit = {
      var m = 1
      while (m < 8 && java.lang.Long.compareUnsigned(v, 1L << (7 * m)) >= 0) m += 1
      if (m == 8 && java.lang.Long.compareUnsigned(v, 1L << 56) >= 0) {
        b.write(0xff)
        b.write(le(8)(v))
      } else {
        b.write((((v << m) | ((1L << (m - 1)) - 1)) & 0xffL).toInt)
        var i = 0
        var rest = v >>> (8 - m)
        while (i < m - 1) { b.write((rest & 0xff).toInt); rest >>>= 8; i += 1 }
      }
    }

    /** GTID_TAGGED_LOG_EVENT (id 42, MySQL >= 8.3): the tagged-GTID
      * transaction frame, as a mysql::serialization message — two header
      * varints (payload size, last non-ignorable field id), then
      * ascending (field_id, value) pairs: 0 flags, 1 uuid (16 raw),
      * 2 gno, 3 tag (varint length + ASCII), 4/5 logical timestamps
      * (zero here — readers skip them).
      */
    def writeGtidTagged(gno: Long, tag: String,
                        sourceUuid: Array[Byte] = BinlogWriter.FixtureUuid,
                        ts: Long = 0L): this.type = {
      require(sourceUuid.length == 16, "source UUID must be 16 bytes")
      require(tag.nonEmpty && tag.length <= 32, "tag must be 1-32 chars")
      val fields = new ByteArrayOutputStream()
      prefixVarint(fields, 0); prefixVarint(fields, 1) // gtid_flags
      prefixVarint(fields, 1); fields.write(sourceUuid)
      prefixVarint(fields, 2); prefixVarint(fields, gno)
      prefixVarint(fields, 3)
      val tb = tag.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      prefixVarint(fields, tb.length.toLong); fields.write(tb)
      prefixVarint(fields, 4); prefixVarint(fields, 0) // last_committed
      prefixVarint(fields, 5); prefixVarint(fields, 0) // sequence_number
      val body = new ByteArrayOutputStream()
      prefixVarint(body, fields.size().toLong)
      prefixVarint(body, 3) // last non-ignorable field: the tag
      body.write(fields.toByteArray)
      event(EventType.GtidTagged, ts, body.toByteArray)
      this
    }

    /** PREVIOUS_GTIDS (id 35): one sid with the [1, gnoEnd] interval, or
      * the EMPTY set when `gnoEnd < 1` (n_sids = 0 — never a degenerate
      * descending interval like `uuid:1-0`, which is invalid GTID-set
      * syntax downstream parsers reject).
      */
    def writePreviousGtids(gnoEnd: Long, sourceUuid: Array[Byte] = BinlogWriter.FixtureUuid,
                           ts: Long = 0L): this.type = {
      val b = new ByteArrayOutputStream()
      if (gnoEnd < 1) b.write(le(8)(0)) // n_sids = 0: empty executed set
      else {
        b.write(le(8)(1)) // n_sids
        b.write(sourceUuid)
        b.write(le(8)(1)) // n_intervals
        b.write(le(8)(1)) // start
        b.write(le(8)(gnoEnd + 1)) // exclusive end
      }
      event(EventType.PreviousGtids, ts, b.toByteArray)
      this
    }

    /** MariaDB GTID_EVENT (162): seq(8 LE) + domain(4 LE) + flags2
      * [+ commit id (8 LE) under FL_GROUP_COMMIT_ID]. The server half of
      * the GTID is the event header's server id. Replaces BEGIN on a
      * MariaDB server — callers must NOT also write a BEGIN query.
      */
    def writeMariaGtid(domain: Long, seq: Long, standalone: Boolean = false,
                       commitId: Long = -1L, ts: Long = 0L): this.type = {
      val b = new ByteArrayOutputStream()
      b.write(le(8)(seq))
      b.write(le(4)(domain))
      var flags2 = 0
      if (standalone) flags2 |= 1
      if (commitId >= 0) flags2 |= 2
      b.write(Array(flags2.toByte))
      if (commitId >= 0) b.write(le(8)(commitId))
      event(EventType.MariaGtid, ts, b.toByteArray)
      this
    }

    /** MariaDB GTID_LIST_EVENT (163): count(4 LE, low 28 bits) +
      * count × (domain 4, server 4, seq 8) — the file-head binlog state.
      */
    def writeMariaGtidList(entries: Seq[(Long, Long, Long)], ts: Long = 0L): this.type = {
      val b = new ByteArrayOutputStream()
      b.write(le(4)(entries.length.toLong))
      entries.foreach { case (d, s, q) =>
        b.write(le(4)(d)); b.write(le(4)(s)); b.write(le(8)(q))
      }
      event(EventType.MariaGtidList, ts, b.toByteArray)
      this
    }

    /** One MariaDB `log_bin_compress` record: 0x80|lenlen control byte,
      * BIG-endian original length, zlib deflate stream (the public layout
      * `BinlogReader.mariaUncompress` documents).
      */
    private def mariaCompressRecord(data: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      val comp = new ByteArrayOutputStream()
      d.setInput(data); d.finish()
      val buf = new Array[Byte](8192)
      while (!d.finished()) comp.write(buf, 0, d.deflate(buf))
      d.end()
      val lenlen =
        if (data.length < 0x100) 1
        else if (data.length < 0x10000) 2
        else if (data.length < 0x1000000) 3 else 4
      val b = new ByteArrayOutputStream()
      b.write(Array((0x80 | lenlen).toByte))
      var i = lenlen - 1
      while (i >= 0) { b.write(Array(((data.length >> (8 * i)) & 0xff).toByte)); i -= 1 }
      b.write(comp.toByteArray)
      b.toByteArray
    }

    /** MariaDB compressed rows event (166-168): plain (table_id, flags)
      * post-header + one compressed record holding the v1-shaped body.
      */
    private def mariaCompressedRows(eventType: Int, fullBody: Array[Byte],
                                    ts: Long): Unit = {
      require(!rowsV2, "MariaDB compressed rows events are v1-family " +
        "(ids 166-168 carry no v2 extra-data field)")
      val b = new ByteArrayOutputStream()
      b.write(fullBody, 0, 8) // table id + flags stay plain
      b.write(mariaCompressRecord(
        java.util.Arrays.copyOfRange(fullBody, 8, fullBody.length)))
      event(eventType, ts, b.toByteArray)
    }

    def writeInsertCompressed(tableId: Long, cols: Seq[ColSpec], rows: Seq[Seq[Any]],
                              ts: Long = 0L): this.type = {
      mariaCompressedRows(EventType.MariaWriteRowsCompressedV1,
        rowsBody(tableId, cols, rows.map(Seq(_)), allUsed(cols.length)), ts)
      this
    }

    def writeDeleteCompressed(tableId: Long, cols: Seq[ColSpec], rows: Seq[Seq[Any]],
                              ts: Long = 0L): this.type = {
      mariaCompressedRows(EventType.MariaDeleteRowsCompressedV1,
        rowsBody(tableId, cols, rows.map(Seq(_)), allUsed(cols.length)), ts)
      this
    }

    def writeUpdateCompressed(tableId: Long, cols: Seq[ColSpec],
                              rows: Seq[(Seq[Any], Seq[Any])], ts: Long = 0L): this.type = {
      mariaCompressedRows(EventType.MariaUpdateRowsCompressedV1,
        rowsBody(tableId, cols, rows.map(r => Seq(r._1, r._2)), allUsed(cols.length)), ts)
      this
    }

    /** MariaDB BINLOG_CHECKPOINT (161): 4-byte LE name length + name. */
    def writeBinlogCheckpoint(fileName: String, ts: Long = 0L): this.type = {
      val b = new ByteArrayOutputStream()
      val nb = fileName.getBytes(charset)
      b.write(le(4)(nb.length.toLong))
      b.write(nb)
      event(EventType.MariaBinlogCheckpoint, ts, b.toByteArray)
      this
    }

    /** INTVAR (5): 1-byte type (1 = LAST_INSERT_ID, 2 = INSERT_ID) +
      * 8-byte LE value.
      */
    def writeIntvar(varType: Int, value: Long, ts: Long = 0L): this.type = {
      val b = new ByteArrayOutputStream()
      b.write(Array(varType.toByte))
      b.write(le(8)(value))
      event(EventType.Intvar, ts, b.toByteArray)
      this
    }

    /** RAND (13): two 8-byte LE seeds. */
    def writeRand(seed1: Long, seed2: Long, ts: Long = 0L): this.type = {
      val b = new ByteArrayOutputStream()
      b.write(le(8)(seed1))
      b.write(le(8)(seed2))
      event(EventType.Rand, ts, b.toByteArray)
      this
    }

    /** USER_VAR (14): name + typed value + the 5.6.4+ trailing flags byte.
      * `value` = null writes the is-null shape; `valType`/`charsetId`
      * follow the public Item_result layout (0 STRING, 1 REAL, 2 INT,
      * 4 DECIMAL).
      */
    def writeUserVar(name: String, value: Array[Byte], valType: Int = 0,
                     charsetId: Int = 33, unsigned: Boolean = false,
                     ts: Long = 0L): this.type = {
      val b = new ByteArrayOutputStream()
      val nb = name.getBytes(charset)
      b.write(le(4)(nb.length.toLong))
      b.write(nb)
      if (value == null) b.write(Array(1.toByte))
      else {
        b.write(Array(0.toByte, valType.toByte))
        b.write(le(4)(charsetId.toLong))
        b.write(le(4)(value.length.toLong))
        b.write(value)
        b.write(Array(if (unsigned) 1.toByte else 0.toByte))
      }
      event(EventType.UserVar, ts, b.toByteArray)
      this
    }

    /** INCIDENT (26): 2-byte LE incident number + 1-byte msg length + msg. */
    def writeIncident(num: Int, message: String, ts: Long = 0L): this.type = {
      val b = new ByteArrayOutputStream()
      val mb = message.getBytes(charset)
      require(mb.length <= 255, "INCIDENT message longer than 255 bytes")
      b.write(le(2)(num.toLong))
      b.write(Array(mb.length.toByte))
      b.write(mb)
      event(EventType.Incident, ts, b.toByteArray)
      this
    }

    /** BEGIN_LOAD_QUERY (17): 4-byte LE file_id + the first block of the
      * LOAD DATA INFILE file transfer.
      */
    def writeBeginLoadQuery(fileId: Long, block: Array[Byte],
                            ts: Long = 0L): this.type = {
      val b = new ByteArrayOutputStream()
      b.write(le(4)(fileId))
      b.write(block)
      event(EventType.BeginLoadQuery, ts, b.toByteArray)
      this
    }

    /** APPEND_BLOCK (9): continuation block, same layout as 17. */
    def writeAppendBlock(fileId: Long, block: Array[Byte],
                         ts: Long = 0L): this.type = {
      val b = new ByteArrayOutputStream()
      b.write(le(4)(fileId))
      b.write(block)
      event(EventType.AppendBlock, ts, b.toByteArray)
      this
    }

    /** DELETE_FILE (11): 4-byte LE file_id of an aborted transfer. */
    def writeDeleteFile(fileId: Long, ts: Long = 0L): this.type = {
      event(EventType.DeleteFile, ts, le(4)(fileId))
      this
    }

    /** EXECUTE_LOAD_QUERY (18): QUERY post-header + (file_id,
      * fn_pos_start, fn_pos_end, dup_handling), then db + statement text.
      * `fnPosStart`/`fnPosEnd` delimit the filename literal inside `sql`.
      */
    def writeExecuteLoadQuery(db: String, sql: String, fileId: Long,
                              fnPosStart: Int, fnPosEnd: Int,
                              dupHandling: Int = 0, ts: Long = 0L,
                              threadId: Long = 1L): this.type = {
      val b = new ByteArrayOutputStream()
      val dbb = db.getBytes(charset)
      b.write(le(4)(threadId))
      b.write(le(4)(0)) // exec time
      b.write(Array(dbb.length.toByte))
      b.write(le(2)(0)) // error code
      b.write(le(2)(0)) // status block len
      b.write(le(4)(fileId))
      b.write(le(4)(fnPosStart.toLong))
      b.write(le(4)(fnPosEnd.toLong))
      b.write(Array(dupHandling.toByte))
      b.write(dbb); b.write(Array(0.toByte))
      b.write(sql.getBytes(charset))
      event(EventType.ExecuteLoadQuery, ts, b.toByteArray)
      this
    }

    /** MariaDB QUERY_COMPRESSED (165): QUERY layout, SQL text as one
      * compressed record.
      */
    def writeQueryCompressed(db: String, sql: String, ts: Long = 0L,
                             threadId: Long = 1L): this.type = {
      val b = new ByteArrayOutputStream()
      val dbb = db.getBytes(charset)
      b.write(le(4)(threadId))
      b.write(le(4)(0)) // exec time
      b.write(Array(dbb.length.toByte))
      b.write(le(2)(0)) // error code
      b.write(le(2)(0)) // status block len
      b.write(dbb); b.write(Array(0.toByte))
      b.write(mariaCompressRecord(sql.getBytes(charset)))
      event(EventType.MariaQueryCompressed, ts, b.toByteArray)
      this
    }

    /** MariaDB START_ENCRYPTION (164): schema version + key version + 16
      * nonce bytes — fixture side of the named encrypted-log error.
      */
    def writeStartEncryption(ts: Long = 0L): this.type = {
      val b = new ByteArrayOutputStream()
      b.write(le(4)(1)) // crypto schema version
      b.write(le(4)(1)) // key version
      b.write(new Array[Byte](12)) // nonce
      event(EventType.MariaStartEncryption, ts, b.toByteArray)
      this
    }

    def writeXid(xid: Long, ts: Long = 0L): this.type = {
      val b = le(8)(xid)
      event(EventType.Xid, ts, b)
      this
    }

    /** XA_PREPARE_LOG_EVENT (38, MySQL >= 5.7.7): one_phase flag +
      * XID struct (formatID, gtrid/bqual lengths + data).
      */
    def writeXaPrepare(gtrid: String, ts: Long = 0L): this.type = {
      val b = new ByteArrayOutputStream()
      b.write(Array(0.toByte)) // one_phase = false
      b.write(le(4)(1)) // formatID
      val g = gtrid.getBytes(charset)
      b.write(le(4)(g.length.toLong))
      b.write(le(4)(0)) // bqual_length
      b.write(g)
      event(EventType.XaPrepare, ts, b.toByteArray)
      this
    }

    /** TRANSACTION_PAYLOAD (type 40): TLV header (compression type,
      * uncompressed size when compressed, payload size) + END_MARK + the
      * inner event bytes (from a `nested = true` Writer), zstd-compressed
      * when `compress`.
      */
    def writeTransactionPayload(innerBytes: Array[Byte], compress: Boolean,
                                ts: Long = 0L): this.type = {
      val payload =
        if (compress) com.github.luben.zstd.Zstd.compress(innerBytes) else innerBytes
      val b = new ByteArrayOutputStream()
      def field(t: Int, v: Long): Unit = {
        val enc = new ByteArrayOutputStream()
        writePackedInt(enc, v)
        b.write(Array(t.toByte))
        writePackedInt(b, enc.size().toLong)
        b.write(enc.toByteArray)
      }
      field(2, if (compress) 0L else 255L) // COMPRESSION_TYPE
      if (compress) field(3, innerBytes.length.toLong) // UNCOMPRESSED_SIZE
      field(1, payload.length.toLong) // PAYLOAD_SIZE
      b.write(Array(0.toByte)) // END_MARK
      b.write(payload)
      event(EventType.TransactionPayload, ts, b.toByteArray)
      this
    }

    def writeRotate(nextFile: String, ts: Long = 0L): this.type = {
      val b = new ByteArrayOutputStream()
      b.write(le(8)(4))
      b.write(nextFile.getBytes(charset))
      event(EventType.Rotate, ts, b.toByteArray)
      this
    }

    def toBytes: Array[Byte] = out.toByteArray

    def save(path: String): String = writeAtomic(path, out.toByteArray)

    /** Truncated copy for torn-tail tests (`mysql_binlog.clj:316-328`). */
    def saveTruncated(path: String, dropBytes: Int): String = {
      val a = out.toByteArray
      writeAtomic(path, java.util.Arrays.copyOf(a, a.length - dropBytes))
    }

    /** Temp-sibling + atomic rename, never an in-place rewrite: tests
      * re-save a growing log UNDER a live tailer, and truncate-then-
      * write would hand a concurrent mmap a shrunk file — reading a
      * mapped buffer over a truncated region faults the JVM. A rename
      * swaps inodes, so an existing map stays valid on the old bytes (a
      * real server only ever appends; purge deletes whole files, which
      * is equally mmap-safe). The temp name must NOT share the target's
      * `binlog.0*` prefix — directory listings (tailer discovery,
      * fixture byte sums) would otherwise observe a half-written twin.
      *
      * Rename flags: ATOMIC_MOVE alone — it already replaces an existing
      * target on POSIX, and combining it with REPLACE_EXISTING is
      * implementation-specific per the Files.move javadoc (may throw on
      * other providers). Where ATOMIC_MOVE itself is unsupported
      * (exotic FS), fall back to a plain REPLACE_EXISTING move: non-atomic
      * but still never an in-place truncate, which was the fault the
      * method exists to prevent. Stale `.wtmp-*` siblings from a writer
      * that crashed between write and move are swept on the next save —
      * nothing else ever cleans them (discovery skips hidden files, so
      * they are invisible but would accumulate forever).
      */
    private def writeAtomic(path: String, bytes: Array[Byte]): String = {
      val p = java.nio.file.Paths.get(path).toAbsolutePath
      val dir = p.getParent
      if (dir != null && java.nio.file.Files.isDirectory(dir)) {
        val s = java.nio.file.Files.list(dir)
        try s.forEach { q =>
          // stale = a DEAD process's temp: a live sibling writer may be
          // between its write and move right now — deleting its temp would
          // fail that move, so liveness (not age) is the staleness test
          val n = q.getFileName.toString
          if (n.startsWith(".wtmp-")) {
            val pid = n.stripPrefix(".wtmp-").takeWhile(_.isDigit)
            val dead = pid.nonEmpty && pid.length <= 18 &&
              !ProcessHandle.of(pid.toLong).map[Boolean](_.isAlive).orElse(false)
            if (dead)
              try java.nio.file.Files.deleteIfExists(q)
              catch { case _: java.io.IOException => () } // another sweeper won
          }
        } finally s.close()
      }
      val tmp = p.resolveSibling(
        s".wtmp-${ProcessHandle.current().pid()}-${System.nanoTime()}")
      java.nio.file.Files.write(tmp, bytes)
      try java.nio.file.Files.move(tmp, p,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.AtomicMoveNotSupportedException =>
          java.nio.file.Files.move(tmp, p,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        // ATOMIC_MOVE-onto-existing-target behavior is implementation-
        // specific: POSIX replaces, but a provider may refuse with
        // FileAlreadyExistsException (or a bare IOException) instead of
        // signaling "atomic unsupported". Fall back only while our temp
        // still exists — if it is gone the move happened (or a sweeper
        // interfered) and retrying would throw NoSuchFileException. If
        // the retry ALSO fails the failure was never the documented
        // replace-refusal (permissions, quota): rethrow the ORIGINAL
        // exception with the retry's suppressed, not the other way
        // around.
        case e: java.io.IOException
            if java.nio.file.Files.exists(p) &&
              java.nio.file.Files.exists(tmp) =>
          try java.nio.file.Files.move(tmp, p,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          catch { case e2: java.io.IOException =>
            e.addSuppressed(e2); throw e
          }
      }
      path
    }
  }
}
