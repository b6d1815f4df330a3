package graft.sources

import java.nio.charset.Charset
import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.binlog._

/** DataSource V2 for MySQL v4 binlog files: `spark.read.format("mysql-binlog")`.
  *
  * Design (SURVEY §3.3, §7 M2-M5):
  *  - a binlog file is the minimal unit of sequential decode (TABLE_MAP
  *    state precedes its rows events, `mysql_binlog.clj:715-729`), so the
  *    batch plans **one InputPartition per file** — parallelism across
  *    files/segments, sequential decode within;
  *  - (db, table) and `_delta_type` equality predicates push into the scan
  *    ([[BinlogScanBuilder]]): rows events of other tables are *skipped
  *    before row-image decode* — strictly better than the reference, which
  *    decodes then filters (`jdbc.clj:176-182`, SURVEY §4.1);
  *  - the public change-row schema is the fixed envelope of FIXTURES.md §2
  *    so Catalyst can analyze queries statically: payload is either a typed
  *    struct (option `payloadDdl`) or a positional `array<string>` when the
  *    schema is unknown (column names are absent from the log itself,
  *    `mysql_binlog.clj:505-508`);
  *  - `mode=events` exposes the raw decoded event stream (QUERY sql text,
  *    XID, ROTATE...) — the S5/S7 surface.
  *
  * Options: `path` (file, directory, or binlog index file), `database`,
  * `table`, `payloadDdl`, `charset` (default latin1 for reference parity),
  * `mode` (changes|events), `startOffset`, `maxBytesPerTrigger` (streaming
  * admission control ≈ the reference's bounded-queue backpressure,
  * `jdbc.clj:41-48`).
  */
class BinlogDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "mysql-binlog"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BinlogSchemas.forOptions(options.asScala.toMap)

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new BinlogTable(schema, BinlogSchemas.norm(properties.asScala.toMap))
}

object BinlogSchemas {
  /** Spark hands options through CaseInsensitiveStringMap (lowercased keys);
    * normalize every map so lookups are uniform.
    */
  def norm(m: Map[String, String]): Map[String, String] =
    m.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }

  /** Fixed change-row envelope (FIXTURES.md §2). */
  val envelope: StructType = StructType(Seq(
    StructField("db", StringType),
    StructField("table", StringType),
    StructField("ts", TimestampType),
    StructField("server_id", LongType),
    StructField("xid", LongType),
    StructField("log_file", StringType),
    StructField("log_pos", LongType),
    StructField("log_seq", IntegerType),
    StructField("_delta_type", StringType)))

  val eventsSchema: StructType = StructType(Seq(
    StructField("log_file", StringType),
    StructField("log_pos", LongType),
    StructField("ts", TimestampType),
    StructField("event_type", StringType),
    StructField("server_id", LongType),
    StructField("event_len", LongType),
    StructField("next_pos", LongType),
    StructField("db", StringType),
    StructField("table", StringType),
    StructField("sql", StringType),
    StructField("xid", LongType),
    StructField("next_file", StringType),
    StructField("gtid", StringType),
    // TABLE_MAP events on binlog_row_metadata=FULL logs: the column names
    // the log itself declares (comma-joined); null elsewhere — the
    // replication-observability view of the self-describing schema
    StructField("col_names", StringType)))

  def forOptions(options: Map[String, String]): StructType =
    norm(options).getOrElse("mode", "changes") match {
      case "events" => eventsSchema
      case _ =>
        // `attachRowsQuery` (Debezium include.query parity): change rows
        // carry the originating SQL statement captured from ROWS_QUERY
        // events (binlog_rows_query_log_events=ON), null when the server
        // didn't log one
        val env =
          if (norm(options).get("attachrowsquery").exists(_.toBoolean))
            envelope.add(StructField("rows_query", StringType))
          else envelope
        norm(options).get("payloadddl") match {
          case Some(ddl) => StructType(env.fields ++ StructType.fromDDL(ddl).fields)
          case None if norm(options).get("usemetadatanames").exists(_.toBoolean) =>
            StructType(env.fields ++ metadataPayloadSchema(norm(options)).fields)
          case None => env.add(StructField("row", ArrayType(StringType)))
        }
    }

  /** `useMetadataNames=true`: derive the typed payload schema from the
    * log's own TABLE_MAP optional metadata (`binlog_row_metadata=FULL`,
    * MySQL 8.0) — no `payloadDdl` required; the log is self-describing.
    * Head-walks the files (row images skipped) to the first TABLE_MAP
    * matching the `database`/`table` options. Loud errors when the log
    * carries no metadata or no names: silently falling back to positional
    * mode would flip the schema underneath the user's query.
    */
  def metadataPayloadSchema(o: Map[String, String]): StructType = {
    val files = resolveFiles(o("path"))
    val dbF = o.get("database")
    val tableF = o.get("table")
    val tm = files.iterator
      .map { f =>
        BinlogReader.eventIterator(BinlogReader.mapFile(f), 4L, decodeRowImages = false)
          .collectFirst { case t: TableMapEvent
            if dbF.forall(_ == t.dbName) && tableF.forall(_ == t.tableName) => t }
      }
      .collectFirst { case Some(t) => t }
      .getOrElse(throw new IllegalArgumentException(
        s"useMetadataNames: no TABLE_MAP for ${dbF.getOrElse("*")}.${tableF.getOrElse("*")} " +
          s"in ${files.size} binlog file(s)"))
    val om = tm.optionalMeta.getOrElse(throw new IllegalArgumentException(
      s"useMetadataNames: TABLE_MAP for ${tm.dbName}.${tm.tableName} carries no optional " +
        "metadata — the server wrote this log without binlog_row_metadata; supply payloadDdl"))
    // a truncated COLUMN_NAME block leaves trailing nulls (readOptionalMeta
    // tolerates it; events mode filters them) — building StructField(null)
    // here would surface as an opaque NPE much later instead of this error
    if (om.names == null || om.names.exists(_ == null)) throw new IllegalArgumentException(
      s"useMetadataNames: TABLE_MAP for ${tm.dbName}.${tm.tableName} has optional metadata " +
        "but not a name for every column — binlog_row_metadata=MINIMAL or a truncated " +
        "COLUMN_NAME block; FULL is required (or supply payloadDdl)")
    StructType(tm.columnTypes.indices.map(i =>
      StructField(om.names(i), sparkTypeFor(tm, i))))
  }

  /** Spark type for one TABLE_MAP column, used by the self-describing
    * schema path. Conservative: types whose decode is byte-preserving stay
    * binary; ENUM/SET surface as labels only when the log carries the
    * literal dictionaries.
    */
  private def sparkTypeFor(tm: TableMapEvent, i: Int): DataType = {
    val m = tm.columnMeta(i)
    val om = tm.optionalMeta.orNull
    val unsigned = om != null && om.signedness != null && om.signedness(i)
    val literals = om != null && om.enumSetValues != null && om.enumSetValues(i) != null
    ColType.realType(tm.columnTypes(i), m) match {
      case ColType.Tiny | ColType.Short | ColType.Int24 | ColType.Year => IntegerType
      case ColType.Long => if (unsigned) LongType else IntegerType
      case ColType.LongLong => if (unsigned) DecimalType(20, 0) else LongType
      case ColType.Float => FloatType
      case ColType.Double => DoubleType
      case ColType.NewDecimal => DecimalType(m & 0xff, m >> 8)
      case ColType.Timestamp | ColType.Timestamp2 | ColType.Datetime |
           ColType.Datetime2 => TimestampType
      case ColType.Date | ColType.NewDate => DateType
      case ColType.Time | ColType.Time2 => StringType // beyond-24h TIME has no Spark time type
      case ColType.Varchar | ColType.VarString | ColType.String => StringType
      case ColType.Enum => if (literals) StringType else IntegerType
      case ColType.Set => if (literals) ArrayType(StringType) else BinaryType
      case ColType.Json => StringType // decoded to JSON text (type-driven)
      case ColType.Blob | ColType.Geometry => BinaryType
      case ColType.Bit => LongType
      case other => throw new IllegalArgumentException(
        s"useMetadataNames: no Spark type mapping for column type $other " +
          s"(column ${Option(om).flatMap(o => Option(o.names)).map(_(i)).getOrElse(i.toString)})")
    }
  }

  /** Resolve `path` into the ordered list of binlog files: a single file, a
    * directory of magic-checked files, or an index file
    * (`mysql_binlog.clj:813-817`). A path with a URI scheme (`s3a://`,
    * `hdfs://`, `file://`) resolves through Hadoop FileSystem — the
    * remote-storage path of SURVEY §2.1 S2: listing, magic checks and the
    * scan itself all go through buffered Hadoop reads, so executors no
    * longer need the binlog directory mounted locally. Same ordering and
    * encrypted-by-name contracts as the local branch.
    */
  def resolveFiles(path: String): Vector[String] = {
    if (BinlogReader.hasUriScheme(path)) return resolveFilesHadoop(path)
    val f = new java.io.File(path)
    if (f.isDirectory) {
      // numeric-extension order, not string order: a directory holding the
      // 999999→1000000 rollover must still scan in write order
      f.listFiles().toVector.filter(_.isFile).map(_.getPath)
        .sortBy(p => (BinlogReader.fileOrdinal(p), p))
        .filter { p =>
          // an encrypted binlog in the directory must fail by name, not be
          // silently skipped as "not a binlog" (a scan would then quietly
          // miss its changes); one magic read classifies both ways
          val magic = BinlogReader.fileMagic(p)
          if (magic.exists(java.util.Arrays.equals(_, BinlogReader.EncryptedMagic)))
            throw new IllegalStateException(
              s"binlog '$p' is encrypted (binlog_encryption=ON file magic) — " +
                "this engine reads unencrypted logs only")
          magic.exists(java.util.Arrays.equals(_, BinlogReader.Magic))
        }
    } else if (BinlogReader.isEncryptedBinlogFile(path)) {
      throw new IllegalStateException(
        s"binlog '$path' is encrypted (binlog_encryption=ON file magic) — " +
          "this engine reads unencrypted logs only")
    } else if (BinlogReader.isBinlogFile(path)) Vector(path)
    else // treat as index file: entries resolve relative to its directory
      BinlogReader.binlogFilesFromIndex(path).map { name =>
        val nf = new java.io.File(name)
        if (nf.isAbsolute) name else new java.io.File(f.getParentFile, name).getPath
      }
  }

  /** The Hadoop-FS twin of the local `resolveFiles` branch (scheme'd
    * paths): directory listing in numeric-extension order, per-file magic
    * classification with the encrypted-by-name error, index files read
    * through the FS with entries resolved against the index's directory.
    */
  private def resolveFilesHadoop(path: String): Vector[String] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    // the session's Hadoop conf, so spark.hadoop.* credentials reach the
    // remote store exactly as they do for Spark's own file sources
    val fs = p.getFileSystem(BinlogReader.hadoopConfiguration())
    val st = fs.getFileStatus(p)
    def classify(uri: String): Boolean = {
      val magic = BinlogReader.fileMagic(uri)
      if (magic.exists(java.util.Arrays.equals(_, BinlogReader.EncryptedMagic)))
        throw new IllegalStateException(
          s"binlog '$uri' is encrypted (binlog_encryption=ON file magic) — " +
            "this engine reads unencrypted logs only")
      magic.exists(java.util.Arrays.equals(_, BinlogReader.Magic))
    }
    if (st.isDirectory)
      fs.listStatus(p).toVector.filter(_.isFile).map(_.getPath.toString)
        .sortBy(q => (BinlogReader.fileOrdinal(q), q))
        .filter(classify)
    else if (BinlogReader.isEncryptedBinlogFile(path))
      throw new IllegalStateException(
        s"binlog '$path' is encrypted (binlog_encryption=ON file magic) — " +
          "this engine reads unencrypted logs only")
    else if (BinlogReader.isBinlogFile(path)) Vector(path)
    else
      BinlogReader.binlogFilesFromIndex(path).map { name =>
        // index entries are server-local paths: qualify them against the
        // index file's own filesystem so the scheme survives (a bare
        // "/var/log/binlog.000001" on an s3a index must stay on s3a)
        if (BinlogReader.hasUriScheme(name)) name
        else if (name.startsWith("/")) fs.makeQualified(new Path(name)).toString
        else fs.makeQualified(new Path(p.getParent, name)).toString
      }
  }

  /** Resolve option `startAfterGtid` to (file, byte position just after
    * that transaction's commit). Three spec grammars, auto-detected:
    * MySQL `uuid:gno`, MySQL >= 8.3 tagged `uuid:tag:gno` (tag starts
    * with a letter/underscore), and MariaDB `domain-server-seq`
    * (all-numeric, dash-separated). Files whose head declaration
    * (PREVIOUS_GTIDS / MariaDB GTID_LIST) already contains the target are
    * skipped without scanning their bodies — locating a GTID across a
    * rotated set is O(files), not O(bytes); the one candidate file gets a
    * header-walk. Tagged targets scan candidates newest-first instead
    * (a tag-less PREVIOUS_GTIDS set can never rule a tagged GTID in or
    * out, so the head-declaration skip would guess the wrong file).
    * Loud error if absent: resuming "after" a GTID the logs don't contain
    * must never silently replay from the beginning (or skip to the end).
    */
  private val MariaGtidSpec = """^(\d+)-(\d+)-(\d+)$""".r
  private val TaggedGtidSpec = """^(.+):([A-Za-z_][A-Za-z0-9_]{0,31}):(\d+)$""".r
  def resolveGtidStart(files: Vector[String], spec: String): (String, Long) = {
    val resolved = spec match {
      case MariaGtidSpec(d, sv, q) =>
        val (domain, server, seq) = (d.toLong, sv.toLong, q.toLong)
        val candIdx = files.lastIndexWhere(f =>
          !BinlogReader.mariaGtidListOf(f)
            .exists(l => BinlogReader.mariaListContains(l, domain, seq)))
        if (candIdx < 0) None
        else BinlogReader.positionAfterMariaGtid(files(candIdx), domain, server, seq)
          .map(p => (files(candIdx), p))
      case TaggedGtidSpec(uuid, tag, g) =>
        files.reverseIterator
          .flatMap(f => BinlogReader.positionAfterGtid(f, uuid, g.toLong, tag = tag)
            .map(p => (f, p)))
          .nextOption()
      case _ =>
        val (uuid, gno) = spec.split(":") match {
          case Array(u, g) if g.nonEmpty && g.forall(_.isDigit) => (u, g.toLong)
          case _ => throw new IllegalArgumentException(
            s"startAfterGtid must be 'uuid:gno' or 'uuid:tag:gno' (MySQL) " +
              s"or 'domain-server-seq' (MariaDB), got '$spec'")
        }
        val candIdx = files.lastIndexWhere(f =>
          !BinlogReader.previousGtidsOf(f).exists(s => BinlogReader.gtidSetContains(s, uuid, gno)))
        if (candIdx < 0) None
        else BinlogReader.positionAfterGtid(files(candIdx), uuid, gno)
          .map(p => (files(candIdx), p))
    }
    resolved.getOrElse(throw new IllegalArgumentException(
      s"startAfterGtid: GTID $spec not found in ${files.size} binlog file(s)"))
  }
}

class BinlogTable(schema: StructType, options: Map[String, String])
  extends Table with SupportsRead {
  override def name(): String = s"mysql-binlog(${options.getOrElse("path", "?")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new BinlogScanBuilder(schema, options ++ BinlogSchemas.norm(caseInsensitiveOptions.asScala.toMap))
}

/** Pushes (db, table, _delta_type) equality filters into the decode loop. */
class BinlogScanBuilder(schema: StructType, options: Map[String, String])
  extends ScanBuilder with SupportsPushDownFilters {
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // events mode never applies db/table/_delta_type filtering in the
    // reader — accepting the pushdown there would make Spark drop the
    // predicate and silently return unfiltered results; reject everything
    // so Spark evaluates the filters itself
    if (options.getOrElse("mode", "changes") == "events") return filters
    val (accepted, rejected) = filters.partition {
      case EqualTo(a, _) => Seq("db", "table", "_delta_type").contains(a)
      case _ => false
    }
    pushed = accepted
    rejected // Spark re-applies everything not fully handled; returning the
             // remainder keeps semantics exact
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    def eq(attr: String): Option[String] = pushed.collectFirst {
      case EqualTo(a, v: String) if a == attr => v
    }
    new BinlogScan(schema, options, eq("db").orElse(options.get("database")),
      eq("table").orElse(options.get("table")), eq("_delta_type"))
  }
}

/** `initialTableMaps` (streaming): table-map snapshot valid at `startPos`,
  * captured by the offset walk — lets the reader decode from `startPos`
  * directly instead of replaying the file prefix to rebuild state.
  */
case class BinlogInputPartition(file: String, startPos: Long, endPos: Long,
    initialTableMaps: Map[Long, graft.binlog.TableMapEvent] = Map.empty)
  extends InputPartition

class BinlogScan(schema: StructType, options: Map[String, String],
                 dbFilter: Option[String], tableFilter: Option[String],
                 deltaFilter: Option[String]) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def description(): String =
    s"mysql-binlog pushed=[db=$dbFilter table=$tableFilter delta=$deltaFilter]"
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val files = BinlogSchemas.resolveFiles(options("path"))
    options.get("startaftergtid") match {
      case Some(spec) =>
        val (startFile, startPos) = BinlogSchemas.resolveGtidStart(files, spec)
        val from = files.indexOf(startFile)
        files.drop(from).map { f =>
          BinlogInputPartition(f, if (f == startFile) startPos else 4L, Long.MaxValue)
        }.toArray
      case None =>
        val start = options.getOrElse("startoffset", "4").toLong
        files.zipWithIndex.map { case (f, i) =>
          BinlogInputPartition(f, if (i == 0) start else 4L, Long.MaxValue)
        }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BinlogReaderFactory(schema, options, dbFilter, tableFilter, deltaFilter)

  override def toMicroBatchStream(checkpointLocation: String) =
    new BinlogMicroBatchStream(schema, options, dbFilter, tableFilter, deltaFilter,
      Option(checkpointLocation))
}

class BinlogReaderFactory(schema: StructType, options: Map[String, String],
                          dbFilter: Option[String], tableFilter: Option[String],
                          deltaFilter: Option[String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[BinlogInputPartition]
    new BinlogPartitionReader(p, schema, options, dbFilter, tableFilter, deltaFilter)
  }
}

/** Sequential decode of one file (or byte range); emits InternalRows.
  *
  * Rows arrive before their commit XID, so change rows buffer per
  * transaction and flush when the XID event lands (bounded by
  * `maxTxnRows`, beyond which xid degrades to null rather than OOM).
  */
class BinlogPartitionReader(part: BinlogInputPartition, schema: StructType,
                            options: Map[String, String],
                            dbFilter: Option[String], tableFilter: Option[String],
                            deltaFilter: Option[String])
  extends PartitionReader[InternalRow] {

  private val charset = Charset.forName(options.getOrElse("charset", "ISO-8859-1"))
  private val eventsMode = options.getOrElse("mode", "changes") == "events"
  private val maxTxnRows = options.getOrElse("maxtxnrows", "1000000").toInt
  private val attachRowsQuery =
    !eventsMode && options.get("attachrowsquery").exists(_.toBoolean)
  /** envelope column count in THIS scan's schema (the optional `rows_query`
    * column sits between the fixed envelope and the payload)
    */
  private val envWidth =
    BinlogSchemas.envelope.fields.length + (if (attachRowsQuery) 1 else 0)
  private val payloadFields: Array[StructField] =
    schema.fields.drop(envWidth)
  private val dynamicPayload =
    payloadFields.length == 1 && payloadFields.head.name == "row" &&
      payloadFields.head.dataType.isInstanceOf[ArrayType]
  /** `ddlEvolution=addColumns`: `payloadDdl` declares the table's NEWEST
    * schema and row images written before trailing ADD COLUMN statements
    * may be a strict PREFIX of it — decode the prefix, null-pad the rest
    * (exactly MySQL's own read of pre-ALTER rows: the new column has no
    * value). This is the documented resume path after a maintained
    * pipeline fails loudly on mid-stream DDL drift: update payloadDdl to
    * the post-ALTER schema, set this option, restart from the same
    * checkpoint — the replayed batch may span the ALTER, so both
    * generations must decode under ONE ddl. WIDER images still fail
    * (a dropped/reordered column is not expressible as a prefix, and
    * null-padding it would silently misalign every value).
    */
  private val ddlEvolution =
    options.getOrElse("ddlevolution", "fail").toLowerCase match {
      case "fail" => false
      case "addcolumns" => true
      case other => throw new IllegalArgumentException(
        s"ddlEvolution must be 'fail' or 'addColumns', got '$other'")
    }

  private val logFile = UTF8String.fromString(new java.io.File(part.file).getName)
  private val buf = BinlogReader.mapFile(part.file)
  // With a table-map snapshot the decode starts at startPos (streaming
  // fast path: O(batch delta)); otherwise replay from 4 to rebuild
  // TABLE_MAP state (SURVEY §3.3), with emission gated on [startPos, endPos)
  private val decodeFrom =
    if (part.initialTableMaps.nonEmpty || part.startPos <= 4L) part.startPos else 4L
  /** Schema-driven unsigned decode (reference TODO, `mysql_binlog.clj:548`):
    * option `unsignedColumns` = comma-separated payload column names.
    */
  private val unsignedCols: Array[Boolean] =
    options.get("unsignedcolumns").map { names =>
      val set = names.split(",").map(_.trim).filter(_.nonEmpty).toSet
      payloadFields.map(f => set.contains(f.name))
    }.orNull
  /** SURVEY §1.2 optional dictionary lookup: ENUM ordinals / SET bitsets
    * decode to their labels when the user supplies the table's dictionaries
    * (they live in the DDL, not the log). Option `enumDictionaries` =
    * `col:a|b|c;col2:x|y`; declare the column STRING (ENUM) or
    * ARRAY<STRING> (SET) in `payloadDdl`. Without a dictionary the raw
    * ordinal/bitset surfaces (reference parity, `mysql_binlog.clj:530-536`).
    */
  private val enumDicts: Array[Array[String]] =
    options.get("enumdictionaries").map { spec =>
      val byName = spec.split(";").iterator.filter(_.nonEmpty).map { e =>
        val Array(n, vs) = e.split(":", 2)
        n.trim -> vs.split("\\|").map(_.trim)
      }.toMap
      payloadFields.map(f => byName.get(f.name).orNull)
    }.getOrElse(payloadFields.map(_ => null: Array[String]))
  /** Option `jsonColumns` = comma-separated payload columns holding MySQL
    * binary JSON (type 245): decode to JSON text (declare STRING in
    * `payloadDdl`). Default stays raw-bytes passthrough.
    */
  private val jsonCols: Array[Boolean] =
    options.get("jsoncolumns").map { names =>
      val set = names.split(",").map(_.trim).filter(_.nonEmpty).toSet
      payloadFields.map(f => set.contains(f.name))
    }.getOrElse(payloadFields.map(_ => false))
  /** Option `columnCharsets` = `col:charset;col2:charset` (payload column
    * names): per-column string decode for tables mixing e.g. latin1 and
    * utf8mb4 columns. TABLE_MAP optional metadata, when the log carries it,
    * overrides this (see [[graft.binlog.BinlogReader.colPolicy]]).
    */
  private val colCharsets: Array[Charset] =
    options.get("columncharsets").map { spec =>
      val byName = spec.split(";").iterator.filter(_.nonEmpty).map { e =>
        val Array(nm, cs) = e.split(":", 2)
        nm.trim -> Charset.forName(cs.trim)
      }.toMap
      payloadFields.map(f => byName.get(f.name).orNull)
    }.orNull
  private val events =
    BinlogReader.eventIterator(buf, decodeFrom, part.initialTableMaps, charset, unsignedCols,
      endOffset = part.endPos,
      // events mode never reads row images — skip their decode (projection
      // pushdown at the event level)
      decodeRowImages = !eventsMode,
      colCharsets = colCharsets,
      // `onTornTail=fail`: the caller declares the log set CLOSED, so a
      // torn event is corruption and must fail by name instead of silently
      // truncating the scan (default `truncate` keeps live-tail and
      // crash-rotation tolerance)
      failOnTornTail = options.getOrElse("ontorntail", "truncate") == "fail")

  /** Per-table decode policy derived from TABLE_MAP optional metadata
    * (ENUM/SET literal dictionaries; JSON-typed columns declared STRING
    * decode to text). Metadata wins over the scan-level options — the
    * server that wrote the log is authoritative. Seeded from the streaming
    * table-map snapshot, refreshed as TABLE_MAP events stream past.
    */
  private var dictsByTable = Map.empty[Long, Array[Array[String]]]
  private var jsonByTable = Map.empty[Long, Array[Boolean]]
  private def observeTableMap(tm: graft.binlog.TableMapEvent): Unit = {
    // mirror EVERY registry update, not just additive ones — a table id
    // re-mapped to a layout without enum literals / JSON columns must not
    // keep the previous mapping's decode policy
    val es = tm.optionalMeta.map(_.enumSetValues).orNull
    dictsByTable = dictsByTable.updated(tm.tableId,
      tm.columnTypes.indices.map { i =>
        if (es != null && es(i) != null) es(i)
        else if (i < enumDicts.length) enumDicts(i) else null
      }.toArray)
    jsonByTable = jsonByTable.updated(tm.tableId,
      tm.columnTypes.indices.map { i =>
        (i < jsonCols.length && jsonCols(i)) ||
          (tm.columnTypes(i) == ColType.Json && i < payloadFields.length &&
            payloadFields(i).dataType == StringType)
      }.toArray)
  }
  part.initialTableMaps.values.foreach(observeTableMap)

  /** `fail` (default) stops the scan on ALTER/DROP/RENAME TABLE against a
    * decoded table — `payloadDdl` no longer describes the rows that follow,
    * so continuing would silently mis-decode (the reference only *planned*
    * this guard, `mysql_binlog.clj:975-976`). `ignore` keeps the old
    * behavior for logs whose DDL is known not to affect decoded columns.
    */
  private val onSchemaChange = options.getOrElse("onschemachange", "fail")

  /** `fail` (default) stops a change scan at an INCIDENT event — the server
    * itself recorded that the log may be missing changes, so rows decoded
    * past it can misrepresent the table. `ignore` scans on (observability
    * readers use events mode, where the incident surfaces as a row).
    */
  private val onIncident = options.getOrElse("onincident", "fail")
  private val DdlPattern =
    """(?is)\s*(?:ALTER|DROP|RENAME)\s+(?:ONLINE\s+|OFFLINE\s+|IGNORE\s+)?TABLE\s+(?:IF\s+EXISTS\s+)?`?([\w$]+)`?(?:\s*\.\s*`?([\w$]+)`?)?.*""".r

  private var txnBuffer = Vector.empty[Array[Any]] // change rows awaiting xid
  private var txnOverflowed = false // oversized txn: stream rows, xid = null
  // last ROWS_QUERY statement text, attached to following change rows.
  // Per-statement in real logs (each statement logs its own immediately
  // before its TABLE_MAP/rows events); cleared at every transaction
  // boundary — XID, ROTATE, and any QUERY statement (BEGIN/COMMIT — the
  // latter is how non-XID transactions end), so a statement the server
  // logged without ROWS_QUERY can never inherit a predecessor's SQL
  private var rowsQueryText: UTF8String = null
  private var out: Iterator[InternalRow] = Iterator.empty
  private var current: InternalRow = _

  private def inRange(h: EventHeader): Boolean =
    h.offset >= part.startPos && h.offset < part.endPos

  private def tableWanted(db: String, table: String): Boolean =
    dbFilter.forall(_ == db) && tableFilter.forall(_ == table)

  private def toCatalyst(v: Any, dt: DataType, dict: Array[String],
                         json: Boolean): Any = v match {
    case null | RowImage.Unused => null
    // dictionary decode (opt-in per column): ENUM ordinal -> label (1-based;
    // 0 / out-of-range = MySQL's '' pseudo-value), SET bitset -> label array
    case i: Int if dict != null =>
      UTF8String.fromString(if (i >= 1 && i <= dict.length) dict(i - 1) else "")
    case a: Array[Byte] if dict != null =>
      new GenericArrayData(dict.indices
        .filter(k => k / 8 < a.length && BinlogReader.nthBit(a, k) == 1)
        .map(k => UTF8String.fromString(dict(k))).toArray[Any])
    // binary JSON -> text (opt-in per column)
    case a: Array[Byte] if json =>
      UTF8String.fromString(MySqlJson.decodeToString(a))
    case s: String => UTF8String.fromString(s)
    case d: java.math.BigDecimal =>
      val t = dt.asInstanceOf[DecimalType]
      org.apache.spark.sql.types.Decimal(d, t.precision, t.scale)
    case i: Int => dt match {
      case LongType => i.toLong
      case ShortType => i.toShort
      case ByteType => i.toByte
      case _ => i
    }
    case l: Long => dt match {
      case IntegerType => l.toInt
      case TimestampType => l * 1000000L
      // unsigned BIGINT declared DECIMAL(20,0): in-range values decode as
      // Long and must still land as Decimal
      case t: DecimalType =>
        org.apache.spark.sql.types.Decimal(
          java.math.BigDecimal.valueOf(l), t.precision, t.scale)
      case _ => l
    }
    case ld: java.time.LocalDate => ld.toEpochDay.toInt // DateType days
    case lt: java.time.LocalTime => dt match {
      case StringType => UTF8String.fromString(lt.toString)
      case _ => lt.toSecondOfDay.toLong
    }
    case dur: java.time.Duration => dt match { // TIME2 beyond LocalTime range
      case StringType => UTF8String.fromString(dur.toString) // ISO-8601, e.g. PT100H30M
      case _ => dur.getSeconds
    }
    case dtv: java.time.LocalDateTime => // TimestampType micros, UTC
      dtv.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + dtv.getNano / 1000L
    case other => other
  }

  private def stringify(v: Any): UTF8String = v match {
    case null => null
    case RowImage.Unused => UTF8String.fromString("_")
    case a: Array[Byte] => // BLOB/JSON/GEOMETRY/SET bytes: deterministic hex
      // (shared char-table encoder — this runs per byte on the dynamic-mode
      // row decode hot path), not the JVM identity string
      UTF8String.fromString(BinlogReader.toHex(a))
    case other => UTF8String.fromString(other.toString)
  }

  /** envelope + payload for one image; `dicts`/`jsons` are the effective
    * per-column ENUM/SET dictionaries and JSON-decode flags for this row's
    * table (option-level defaults overridden by TABLE_MAP metadata)
    */
  private def changeRow(h: EventHeader, db: String, table: String, seq: Int,
                        deltaType: String, img: RowImage.Image,
                        dicts: Array[Array[String]], jsons: Array[Boolean]): Array[Any] = {
    val n = envWidth + (if (dynamicPayload) 1 else payloadFields.length)
    val a = new Array[Any](n)
    a(0) = UTF8String.fromString(db)
    a(1) = UTF8String.fromString(table)
    a(2) = h.timestamp * 1000000L // seconds -> micros, UTC
    a(3) = h.serverId
    a(4) = null // xid patched at commit
    a(5) = logFile
    a(6) = h.offset
    a(7) = seq
    a(8) = UTF8String.fromString(deltaType)
    if (attachRowsQuery) a(envWidth - 1) = rowsQueryText
    if (dynamicPayload) {
      a(envWidth) = new GenericArrayData(img.map(stringify).toArray[Any])
    } else {
      // A TABLE_MAP whose column count drifted from payloadDdl (schema
      // changed before this log, or mid-log without a DDL statement the
      // guard could catch) must not silently truncate extra columns or
      // null-pad missing ones — the typed projection would be garbage.
      // The ONE sanctioned exception is opt-in [[ddlEvolution]]: a
      // NARROWER image under addColumns mode is a pre-ALTER row whose
      // trailing columns legitimately do not exist yet — null-pad them.
      if (img.length != payloadFields.length &&
          !(ddlEvolution && img.length < payloadFields.length))
        throw new IllegalStateException(
          s"$db.$table row image has ${img.length} column(s) but payloadDdl " +
            s"declares ${payloadFields.length} — the table's schema differs from " +
            "payloadDdl (schema change?). Update payloadDdl (for trailing ADD " +
            "COLUMN drift, resume with ddlEvolution=addColumns so pre-ALTER " +
            "prefix images null-pad), or read this log without payloadDdl " +
            "(positional row mode) to see the raw images.")
      var i = 0
      while (i < payloadFields.length) {
        a(envWidth + i) =
          if (i < img.length)
            toCatalyst(img(i), payloadFields(i).dataType, dicts(i), jsons(i))
          else null
        i += 1
      }
    }
    a
  }

  private def emitTxn(xid: java.lang.Long): Iterator[InternalRow] = {
    val rows = txnBuffer
    txnBuffer = Vector.empty
    rows.iterator.map { a => a(4) = xid; new GenericInternalRow(a) }
  }

  /** The ONE commit-boundary reset: flush buffered rows with `xid` (null =
    * no transaction id available) and clear all per-transaction state.
    * Callers: XID commit, closing QUERY ([[graft.binlog.TxnBoundary]]),
    * rotation.
    */
  private def commitBoundary(xid: java.lang.Long): Unit = {
    out = emitTxn(xid)
    txnOverflowed = false
    rowsQueryText = null
  }

  /** `rows-delta-type` (N1, `jdbc.clj:104-115`) at the source: WRITE → 1
    * "insert" row, DELETE → 1 "delete" row, UPDATE → "update-before" +
    * "update" per pair, in log order.
    */
  // log_seq numbering: the shared [[graft.binlog.ChangeSeqCounter]] rule
  // (one partition = one file, so no reset is ever needed here)
  private val seqCounter = new ChangeSeqCounter

  private def expand(re: RowsEvent, base: Int): Iterator[Array[Any]] = {
    val h = re.header
    val dicts = dictsByTable.getOrElse(re.tableId, enumDicts)
    val jsons = jsonByTable.getOrElse(re.tableId, jsonCols)
    re.header.eventType match {
      case t if EventType.isWriteRows(t) =>
        re.rows.iterator.zipWithIndex.map { case (img, i) =>
          changeRow(h, re.dbName, re.tableName, base + i, "insert", img, dicts, jsons) }
      case t if EventType.isDeleteRows(t) =>
        re.rows.iterator.zipWithIndex.map { case (img, i) =>
          changeRow(h, re.dbName, re.tableName, base + i, "delete", img, dicts, jsons) }
      case t if EventType.isUpdateRows(t) =>
        re.rows.iterator.zip(re.afterRows.iterator).zipWithIndex.flatMap {
          case ((before, after), i) =>
            Iterator(changeRow(h, re.dbName, re.tableName, base + 2 * i, "update-before",
              before, dicts, jsons),
              changeRow(h, re.dbName, re.tableName, base + 2 * i + 1, "update", after,
                dicts, jsons))
        }
    }
  }

  private def eventRow(e: BinlogEvent): InternalRow = {
    val h = e.header
    val a = new Array[Any](BinlogSchemas.eventsSchema.fields.length)
    a(0) = logFile
    a(1) = h.offset
    a(2) = h.timestamp * 1000000L
    a(3) = UTF8String.fromString(EventType.name(h.eventType))
    a(4) = h.serverId
    a(5) = h.eventLen
    a(6) = h.nextPos
    e match {
      case q: QueryEvent =>
        a(7) = UTF8String.fromString(q.defaultDb); a(9) = UTF8String.fromString(q.sql)
      case tm: TableMapEvent =>
        a(7) = UTF8String.fromString(tm.dbName); a(8) = UTF8String.fromString(tm.tableName)
        tm.optionalMeta.foreach { om =>
          // a truncated COLUMN_NAME block leaves trailing nulls in the
          // array — drop them rather than rendering a literal "null" name
          if (om.names != null)
            a(13) = UTF8String.fromString(om.names.filter(_ != null).mkString(","))
        }
      case re: RowsEvent =>
        a(7) = UTF8String.fromString(re.dbName); a(8) = UTF8String.fromString(re.tableName)
      case x: XidEvent => a(10) = x.xid
      case r: RotateEvent => a(11) = UTF8String.fromString(r.nextFile)
      case g: GtidEvent => a(12) = UTF8String.fromString(g.gtid)
      case pg: PreviousGtidsEvent => a(12) = UTF8String.fromString(pg.gtidSet)
      case mg: MariaGtidEvent => a(12) = UTF8String.fromString(mg.gtid)
      case ml: MariaGtidListEvent => a(12) = UTF8String.fromString(ml.gtidList)
      case mc: MariaBinlogCheckpointEvent =>
        a(11) = UTF8String.fromString(mc.fileName) // next_file: the named log
      case rq: RowsQueryEvent => a(9) = UTF8String.fromString(rq.query)
      // statement-based-replication context + incident marker: the
      // mysqlbinlog-style rendering in the sql column
      case iv: IntvarEvent => a(9) = UTF8String.fromString(iv.rendered)
      case rd: RandEvent => a(9) = UTF8String.fromString(rd.rendered)
      case uv: UserVarEvent => a(9) = UTF8String.fromString(uv.rendered)
      case ic: IncidentEvent => a(9) = UTF8String.fromString(ic.rendered)
      // LOAD DATA file-transfer progression + the executing statement
      // (filename span substituted with its transfer handle)
      case bl: BeginLoadQueryEvent => a(9) = UTF8String.fromString(bl.rendered)
      case ab: AppendBlockEvent => a(9) = UTF8String.fromString(ab.rendered)
      case df: DeleteFileEvent => a(9) = UTF8String.fromString(df.rendered)
      case el: ExecuteLoadQueryEvent =>
        a(7) = UTF8String.fromString(el.defaultDb)
        a(9) = UTF8String.fromString(el.rendered)
      case _ =>
    }
    new GenericInternalRow(a)
  }

  private def deltaWanted(dt: String): Boolean = deltaFilter.forall(_ == dt)

  /** ALTER/DROP/RENAME against a table this scan decodes invalidates
    * `payloadDdl` mid-log — fail loudly rather than decode garbage.
    * Under [[ddlEvolution]] (addColumns) a PURE trailing-ADD-COLUMN
    * statement is the one sanctioned drift: payloadDdl declares the
    * post-ALTER schema, pre-ALTER prefix images null-pad, so the rows
    * that follow the statement match payloadDdl exactly — nothing to
    * fail on. Any ALTER that also drops/changes/renames still fails
    * (not expressible as a prefix) — and so does a POSITIONED add
    * (`ADD COLUMN ... FIRST` / `... AFTER c`): it reorders the row
    * image, so the pre-ALTER prefix no longer lines up column-for-
    * column and a null-pad decode would silently misalign every
    * value. `CONVERT TO CHARACTER SET` rewrites text-column storage
    * with the same silent-garbage consequence. The word-boundary
    * match is deliberately conservative: a column literally named
    * `first` fails loudly rather than risking a wrong pass.
    */
  private val pureAddColumn =
    java.util.regex.Pattern.compile("(?is).*\\bADD\\s+COLUMN\\b.*")
  private val nonPrefixClause =
    java.util.regex.Pattern.compile(
      "(?is).*\\b(DROP|CHANGE|MODIFY|RENAME|FIRST|AFTER|CONVERT)\\b.*")
  private def checkDdl(q: QueryEvent): Unit =
    if (onSchemaChange != "ignore") q.sql match {
      case DdlPattern(a, b) =>
        val (db, table) = if (b != null) (a, b) else (q.defaultDb, a)
        if (tableWanted(db, table) &&
            !(ddlEvolution && pureAddColumn.matcher(q.sql).matches() &&
              !nonPrefixClause.matcher(q.sql).matches()))
          throw new IllegalStateException(
            s"schema change for decoded table $db.$table at ${part.file}:${q.header.offset} — " +
              s"payloadDdl no longer matches the rows that follow. Statement: ${q.sql.take(200)}. " +
              "For trailing ADD COLUMN drift, update payloadDdl to the post-ALTER " +
              "schema and resume with ddlEvolution=addColumns; set " +
              "onSchemaChange=ignore to decode anyway.")
      case _ =>
    }

  override def next(): Boolean = {
    // the event iterator itself stops BEFORE decoding anything at or past
    // part.endPos (O(batch delta), not O(remaining file)); endPos is a
    // transaction-safe boundary (lastSafePos), so the tail flush below
    // only fires for genuinely uncommitted/torn tails
    while (!out.hasNext && events.hasNext) {
      val e = events.next()
      if (eventsMode) {
        if (inRange(e.header)) out = Iterator.single(eventRow(e))
      } else e match {
        case re: RowsEvent =>
          val base = seqCounter.advance(re)
          if (inRange(re.header) && tableWanted(re.dbName, re.tableName)) {
            // materialized per event — readWudRows already holds the decoded
            // images, so this adds no asymptotic memory
            val fresh = expand(re, base).filter(a => deltaWanted(a(8).toString)).toVector
            if (txnOverflowed)
              out = fresh.iterator.map(new GenericInternalRow(_))
            else if (txnBuffer.size + fresh.size <= maxTxnRows) txnBuffer ++= fresh
            else {
              // Oversized transaction: flush what's buffered FIRST (keeps
              // (log_pos, log_seq) emission monotonic), then stream the rest
              // of the txn directly — xid degrades to null for the whole txn
              // rather than interleaving its tail ahead of its head.
              txnOverflowed = true
              out = emitTxn(null) ++ fresh.iterator.map(new GenericInternalRow(_))
            }
          }
        case tm: TableMapEvent =>
          observeTableMap(tm) // refresh metadata-driven per-table policy
        case rq: RowsQueryEvent if attachRowsQuery =>
          rowsQueryText = UTF8String.fromString(rq.query)
        case x: XidEvent =>
          commitBoundary(if (txnOverflowed) null else java.lang.Long.valueOf(x.xid))
        case q: QueryEvent =>
          // a QUERY that CLOSES a transaction — COMMIT (how non-XID
          // transactions end: non-transactional/mixed-engine writes),
          // ROLLBACK (mixed engines: the logged rows still applied), or an
          // implicitly-committing DDL — flushes like XID but with no
          // transaction id. BEGIN and intra-txn statements (SAVEPOINT,
          // ROLLBACK TO, XA END...) leave the buffer and overflow state
          // untouched — flushing there would split one committed
          // transaction. Classification shared with lastSafePos.
          if (TxnBoundary.closes(q.sql)) commitBoundary(null)
          else rowsQueryText = null // statement boundary: no SQL inherit
          // the DDL guard protects a TYPED payload (payloadDdl) against a
          // schema that changed mid-log; dynamic array<string> mode is
          // TABLE_MAP-driven and stays correct across DDL. It also only
          // applies inside the emission range: a DDL in the replay-from-4
          // prefix predates the requested start (startOffset/startAfterGtid)
          // and cannot invalidate rows the scan will actually emit.
          if (!dynamicPayload && inRange(q.header)) checkDdl(q)
        case _: ExecuteLoadQueryEvent =>
          // a LOAD DATA statement completing is DML, not a transaction
          // boundary: the real end (XID / COMMIT-QUERY) follows in every
          // legal log shape, and a standalone statement-format load carries
          // no rows events to flush. Only the statement-scoped SQL
          // attachment resets here.
          rowsQueryText = null
        case _: RotateEvent =>
          commitBoundary(null) // rotation flushes, no xid
        case e if e.header.eventType == EventType.XaPrepare =>
          // XA branch prepared: its rows are fully logged HERE; the XA
          // COMMIT arrives later as its own transaction (maybe another
          // file). Without this flush the prepared branch's rows would sit
          // in the buffer and get stamped with the NEXT transaction's xid.
          commitBoundary(null)
        // inRange like the DDL guard above: an incident in the replay-
        // from-4 prefix predates the requested start — a user resuming
        // PAST an acknowledged incident must not re-trip on it (and a
        // snapshot-carrying resume would never even decode it)
        case ie: IncidentEvent if onIncident != "ignore" && inRange(ie.header) =>
          throw new IllegalStateException(
            s"INCIDENT event at ${part.file}:${ie.header.offset} " +
              s"(incident type ${ie.incidentType}" +
              (if (ie.message.nonEmpty) s", message '${ie.message}'" else "") +
              "): the server recorded a possible replication gap, so changes " +
              "past this point may be incomplete. Set option onIncident=ignore " +
              "to scan anyway.")
        case _ =>
      }
    }
    if (!out.hasNext && txnBuffer.nonEmpty) out = emitTxn(null) // uncommitted tail
    if (out.hasNext) { current = out.next(); true } else false
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
