package graft.sources.v2

import java.util
import java.util.OptionalLong

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.icelite.{FilePrune, FileStat, FileStats, IceFs, MetaIo, PartValues}

/** DataSource V2 surface for IceLite tables: `spark.read.format("icelite")
  * .option("warehouse", wh).option("table", "ns.tbl").load()`, with optional
  * `snapshotId` time travel.
  *
  * This is the scan-level re-expression of the reference's
  * `table.scan(limit, snapshot_id, selected_fields)`
  * (`components/ex-iceberg/src/component.py:36-40`): the three manual knobs
  * become DSv2 pushdowns — `SupportsPushDownRequiredColumns` (projection
  * reaches the parquet page level via a requested reader schema),
  * `SupportsPushDownFilters` (predicates prune files from the plan via
  * manifest stats and partition values), and `SupportsPushDownLimit`
  * (readers stop early). SURVEY §7 step 6.
  *
  * Execution: each task hands its file to Spark's own vectorized parquet
  * reader and returns `ColumnarBatch`es (`supportColumnarReads`), so decode
  * is columnar and the plan above stays inside whole-stage codegen — the
  * same decode path a native `spark.read.parquet` gets, with snapshot/file
  * planning kept custom. Pushed filters stay *residual* (Spark re-evaluates
  * them above the scan with proper three-valued logic); the source uses them
  * only to skip whole files, which is always sound.
  *
  * Scale: one input partition per parquet data file; planning is
  * O(snapshot manifest), driver-side metadata only — no directory listings,
  * no footer reads (stats ride in the manifest).
  */
class IceLiteSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "icelite"

  private def loadMeta(options: CaseInsensitiveStringMap) = {
    val warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException("icelite: missing option 'warehouse'"))
    val ident = Option(options.get("table")).getOrElse(
      throw new IllegalArgumentException("icelite: missing option 'table' (ns.tbl)"))
    val Array(ns, tbl) = ident.split("\\.", 2)
    IceLiteV2.loadMeta(warehouse, ns, tbl)
  }

  /** The pinned-snapshot option: `snapshotId` (numeric), or `ref` — a tag
    * name resolved against the table's named refs at plan time.
    */
  private def pin(meta: graft.icelite.TableMeta,
      options: CaseInsensitiveStringMap): Option[String] =
    Option(options.get("snapshotId")).orElse(
      Option(options.get("ref")).map(r => meta.refSnapshot(r).getOrElse(
        throw new IllegalArgumentException(
          s"no tag '$r' on ${meta.namespace}.${meta.name} " +
            s"(tags: ${meta.refs.keys.toSeq.sorted.mkString(", ")})")).toString))
      .orElse(Option(options.get("asOfTimestamp")).map { t =>
        // time travel by time on the format() path (the catalog path gets
        // it from SQL TIMESTAMP AS OF): latest snapshot at or before t
        val ms = IceLiteV2.tsMicros("asOfTimestamp option", t) / 1000L
        IceLiteV2.snapshotAtOrBefore(meta, ms).getOrElse(
          throw new IllegalArgumentException(
            s"no snapshot of ${meta.namespace}.${meta.name} at or before " +
              s"'$t'")).toString
      })

  private def changelogMode(options: CaseInsensitiveStringMap): Boolean =
    options.getBoolean("changelog", false)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val meta = loadMeta(options)._1
    val base = IceLiteV2.schemaAt(meta, IceLiteV2.pinnedSnapshot(meta, pin(meta, options)))
    if (!changelogMode(options)) base
    else {
      // the streaming CDC shape: table columns + change metadata (same
      // output as IceTable.changelog / the icelite_changes TVF)
      require(!base.fieldNames.contains(IceLiteScan.ChangeTypeCol) &&
        !base.fieldNames.contains(IceLiteScan.CommitSnapCol),
        s"changelog read of ${meta.namespace}.${meta.name}: table already has " +
          s"a ${IceLiteScan.ChangeTypeCol}/${IceLiteScan.CommitSnapCol} column")
      base
        .add(IceLiteScan.ChangeTypeCol, StringType, nullable = false)
        .add(IceLiteScan.CommitSnapCol, LongType, nullable = false)
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val (meta, fs) = loadMeta(options)
    val warehouse = Option(options.get("warehouse")).get
    // `fromTimestamp` is `fromSnapshotId` for consumers that think in
    // time: the boundary is the table state AS OF t (nothing committed
    // yet -> 0 = the whole history), exactly the TVF bound semantics
    val fromSnap = Option(options.get("fromSnapshotId")).orElse(
      Option(options.get("fromTimestamp")).map { t =>
        val ms = IceLiteV2.tsMicros("fromTimestamp option", t) / 1000L
        IceLiteV2.snapshotAtOrBefore(meta, ms).getOrElse(0L).toString
      })
    IceLiteV2.buildTable(warehouse, meta, fs,
      pin(meta, options), Some(schema),
      fromSnap,
      changelogMode = changelogMode(options))
  }
}

/** Shared table-construction logic for the [[IceLiteSource]] format path and
  * the [[IceLiteCatalog]] SQL-catalog path.
  */
private[v2] object IceLiteV2 {

  def loadMeta(warehouse: String, ns: String, tbl: String)
      : (graft.icelite.TableMeta, org.apache.hadoop.fs.FileSystem) = {
    val dir = new Path(new Path(warehouse, ns), tbl)
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val fs = IceFs.of(dir, conf)
    if (!MetaIo.exists(fs, dir))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(ns, tbl))
    (MetaIo.read(fs, dir), fs)
  }

  /** Micros since epoch from an ISO-ish timestamp/date string (UTC —
    * graft sessions pin UTC). Shared by the TVF time bounds and the
    * asOfTimestamp / fromTimestamp read options.
    */
  def tsMicros(context: String, s: String): Long = {
    val inst =
      try java.time.Instant.parse(s)
      catch {
        case _: java.time.format.DateTimeParseException =>
          try java.time.LocalDateTime.parse(s.replace(' ', 'T'))
            .toInstant(java.time.ZoneOffset.UTC)
          catch {
            case _: java.time.format.DateTimeParseException =>
              try java.time.LocalDate.parse(s).atStartOfDay()
                .toInstant(java.time.ZoneOffset.UTC)
              catch {
                case _: java.time.format.DateTimeParseException =>
                  throw new IllegalArgumentException(
                    s"$context: '$s' is not a timestamp")
              }
          }
      }
    inst.getEpochSecond * 1000000L + inst.getNano / 1000L
  }

  /** Latest snapshot committed at or before `ms` (TIMESTAMP AS OF). */
  def snapshotAtOrBefore(meta: graft.icelite.TableMeta, ms: Long): Option[Long] =
    meta.snapshots.filter(_.timestampMs <= ms).map(_.snapshotId).maxOption

  def pinnedSnapshot(meta: graft.icelite.TableMeta,
      snapshotId: Option[String]): graft.icelite.SnapshotMeta =
    snapshotId match {
      case Some(id) => meta.snapshot(id.toLong).getOrElse(
        throw new IllegalArgumentException(
          s"no snapshot $id in ${meta.namespace}.${meta.name}"))
      case None => meta.currentSnapshot.orNull
    }

  /** Schema of the table as of the pinned snapshot (replace() may have
    * changed it since; old files carry the old schema).
    */
  def schemaAt(meta: graft.icelite.TableMeta,
      snap: graft.icelite.SnapshotMeta): StructType =
    StructType.fromDDL(
      if (snap != null && snap.schemaDdl.nonEmpty) snap.schemaDdl else meta.schemaDdl)

  def buildTable(warehouse: String, meta: graft.icelite.TableMeta,
      fs: org.apache.hadoop.fs.FileSystem,
      snapshotId: Option[String], schema: Option[StructType] = None,
      fromSnapshotId: Option[String] = None,
      viaCatalog: Boolean = false,
      changelogMode: Boolean = false): IceLiteTable = {
    val snap = pinnedSnapshot(meta, snapshotId)
    // plan strictly from the committed manifest — never from directory
    // listings, which could surface uncommitted output of failed or
    // speculative write tasks. Legacy snapshots (no inline manifest) fall
    // back to a listing with unknown stats.
    val files: Seq[FileStat] = fromSnapshotId match {
      // in changelog mode `fromSnapshotId` is the STREAM's start offset,
      // not a batch incremental scan (whose append-only contract a MOR
      // history would fail) — the stream plans its own ranges
      case Some(fromS) if snap != null && !changelogMode =>
        // incremental append scan: only the files ADDED by snapshots in
        // (from, pinned]; planning cost tracks change volume, not table size
        val from = fromS.toLong
        graft.icelite.FileStats.requireHistory(meta, from, "incremental scan")
        graft.icelite.FileStats.addedInRange(fs, meta, from, snap.snapshotId,
          "incremental scan")
      case _ =>
        if (snap == null) Nil
        else graft.icelite.FileStats.visible(fs, snap)
    }
    // outstanding position deletes of the pinned snapshot (merge-on-read);
    // incremental ranges are append-only by contract, so none apply there
    val deletes: Seq[graft.icelite.DeleteStat] =
      if (snap == null || fromSnapshotId.isDefined) Nil
      else graft.icelite.FileStats.deletesOf(fs, snap)
    new IceLiteTable(warehouse, meta.namespace, meta.name,
      schema.getOrElse(schemaAt(meta, snap)), meta.partitionBy, files,
      meta.renames, meta.widenedColumns, meta.partitionSpecs, deletes,
      meta.sortOrder, viaCatalog, meta.properties, changelogMode,
      streamFrom = fromSnapshotId.map(_.toLong),
      addedColumns = meta.addedColumns)
  }

  /** Build the columnar reader factory: serialized driver Hadoop conf with
    * the session SQL confs the vectorized reader expects, plus (when
    * filters are given) a parquet FilterPredicate for row-group skipping.
    * Shared by the batch scan and the micro-batch stream.
    */
  def readerFactory(dataSchema: StructType, partSchema: StructType,
      filters: Array[org.apache.spark.sql.sources.Filter], limit: Int,
      // serving order as indices into dataSchema++partSchema; empty =
      // physical order (data columns then constant partition vectors).
      // The STREAMING path must serve the relation's declared column order
      // (Spark binds stream output to the relation attributes positionally,
      // unlike batch, which re-derives output from readSchema) — a
      // partition column anywhere but last would otherwise misbind.
      outputPermutation: Seq[Int] = Nil,
      // true = serve InternalRows instead of ColumnarBatches (required when
      // any partition applies position deletes: Spark refuses mixed modes)
      rowMode: Boolean = false,
      // true = append the absolute row position as a trailing `_pos` column
      // (forces rowMode)
      posCol: Boolean = false)
      : PartitionReaderFactory = {
    val spark = SparkSession.active
    val c = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    // row-group skipping: hand the data-column subset of the pushed filters
    // to parquet-mr as a FilterPredicate — the vectorized reader then drops
    // whole row groups from footer stats before any page IO. Filters stay
    // residual in the Spark plan regardless, so this is IO pruning only.
    RowGroupFilter.build(filters, dataSchema)
      .foreach(p => org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(c, p))
    // the vectorized reader's schema converter and read support expect these
    // session-level SQL confs to be present in the task-side Hadoop conf
    // (Spark's native scan injects them the same way; they carry no
    // defaults at that layer)
    Seq(
      "spark.sql.parquet.binaryAsString" -> "false",
      "spark.sql.parquet.int96AsTimestamp" -> "true",
      "spark.sql.caseSensitive" -> "false",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "false",
      "spark.sql.parquet.fieldId.read.enabled" -> "false",
      "spark.sql.session.timeZone" -> java.util.TimeZone.getDefault.getID
    ).foreach { case (k, dflt) => c.set(k, spark.conf.get(k, dflt)) }
    new IceLiteReaderFactory(
      new SerializableConfiguration(c), dataSchema.json, partSchema.json, limit,
      outputPermutation, rowMode, posCol)
  }
}

private[v2] class IceLiteTable(
    warehouse: String, ns: String, tbl: String,
    tableSchema: StructType, partitionBy: Seq[String], files: Seq[FileStat],
    renames: Seq[graft.icelite.ColumnRename] = Nil,
    // columns ever type-widened: old files carry the narrower physical type
    widened: Seq[String] = Nil,
    // partition-evolution ledger (spec per file era)
    specs: Seq[graft.icelite.PartSpecChange] = Nil,
    // outstanding position-delete files (merge-on-read)
    deletes: Seq[graft.icelite.DeleteStat] = Nil,
    // declared (write-enforced) sort order — reported by the scan
    sortOrder: Seq[String] = Nil,
    // loaded through IceLiteCatalog (its FunctionCatalog can resolve
    // hidden-partitioning transforms in write distribution/ordering)
    viaCatalog: Boolean = false,
    // persisted TBLPROPERTIES — write.<cmd>.mode picks copy-on-write vs
    // merge-on-read row-level SQL
    tableProps: Map[String, String] = Map.empty,
    // streaming CDC changelog relation (`option("changelog", "true")`):
    // tableSchema carries the change-metadata columns and the micro-batch
    // stream resolves row-level changes instead of tailing appends
    changelogMode: Boolean = false,
    // streaming start offset (`fromSnapshotId` on a readStream): a fresh
    // checkpoint begins at this snapshot instead of replaying full history
    streamFrom: Option[Long] = None,
    // filters pushed into the STREAM by StreamScanPruning (Spark never
    // runs DSv2 pushdown on streaming relations): each micro-batch prunes
    // its added files against these, conservatively — the Filter node
    // stays in the plan, so this is purely an IO win
    private[graft] val streamFilters: Seq[Filter] = Nil,
    // column-addition ledger: which file eras predate each added column
    // (zero-contribution proof for the manifest NDV column statistics)
    addedColumns: Seq[graft.icelite.ColumnAdd] = Nil)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** `_file` / `_pos` metadata columns: the data file each row came from and
    * its absolute row position within that file — the audit columns every
    * lake format exposes, and together the stable ROW ID the delta-based
    * (merge-on-read) row-level path keys its position deletes on. `_file`
    * is served as a constant vector per input partition (same mechanics as
    * hive-partition values); `_pos` flips the scan to the position-counting
    * row reader.
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = IceLiteScan.FileMetaCol
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String = "data file path of the row"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = IceLiteScan.PosMetaCol
        override def dataType(): DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String = "absolute row position in the data file"
      })

  override def properties(): util.Map[String, String] = {
    import scala.jdk.CollectionConverters._
    tableProps.asJava
  }

  /** SQL UPDATE / MERGE INTO (and the rewrite form of DELETE): group-based
    * copy-on-write by default — see [[IceLiteRowLevelOperation]] — or, when
    * the table declares `write.<command>.mode = 'merge-on-read'`, the
    * delta-based operation ([[IceLiteDeltaOperation]]) that writes position
    * deletes + new data files and never rewrites an existing file.
    * Metadata-only deletes still short-circuit through SupportsDelete when
    * the condition is translatable.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    val cmdName = info.command() match {
      case org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE => "delete"
      case org.apache.spark.sql.connector.write.RowLevelOperation.Command.UPDATE => "update"
      case _ => "merge"
    }
    val mor =
      tableProps.getOrElse(s"write.$cmdName.mode", "copy-on-write") == "merge-on-read"
    () =>
      if (mor)
        new IceLiteDeltaOperation(
          warehouse, ns, tbl, tableSchema, partitionBy, files, info.command(),
          renames, widened, specs, deletes, sortOrder)
      else
        new IceLiteRowLevelOperation(
          warehouse, ns, tbl, tableSchema, partitionBy, files, info.command(),
          renames, specs, deletes)
  }

  override def name(): String = s"$ns.$tbl"
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[Transform] =
    partitionBy.map(IceLiteScan.v2Transform).toArray
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
      TableCapability.OVERWRITE_DYNAMIC, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.TRUNCATE)

  /** SQL `DELETE FROM <catalog>.<ns>.<tbl> WHERE …`: copy-on-write at file
    * granularity via the table layer (see IceTable.deleteWhere). Claim only
    * conditions we can replay exactly as Columns — Spark surfaces the rest
    * as untranslatable instead of this source guessing.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(graft.icelite.FilterCol.supported)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val t = new graft.icelite.IceCatalog(SparkSession.active, warehouse)
      .loadTable(ns, tbl)
    // honor the table's declared delete mode: merge-on-read writes one
    // tiny position-delete file (deleteWhereMor falls back to copy-on-write
    // itself where positions cannot be trusted)
    if (tableProps.getOrElse("write.delete.mode", "copy-on-write") == "merge-on-read")
      t.deleteWhereMor(filters.toSeq)
    else t.deleteWhere(filters.toSeq)
    ()
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new IceLiteScanBuilder(warehouse, ns, tbl, tableSchema, partitionBy, files,
      streamMaxFiles = Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      streamMaxBytes = Option(options.get("maxBytesPerTrigger")).map(_.toLong),
      renames = renames, widened = widened, specs = specs, deletes = deletes,
      sortOrder = sortOrder, changelogMode = changelogMode,
      streamFrom = streamFrom, streamFilters = streamFilters,
      addedColumns = addedColumns)

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new IceLiteWriteBuilder(warehouse, ns, tbl, info, viaCatalog)

  /** A read-only view of this table narrowed to `names` (table order
    * preserved) — the vehicle for streaming column pruning, where Spark
    * never calls `pruneColumns` (see [[graft.sources.v2.StreamScanPruning]]):
    * the narrowed schema flows through `newScanBuilder` into the micro-batch
    * stream, so the reader requests only these columns from parquet.
    */
  private[graft] def narrowTo(names: Seq[String]): IceLiteTable =
    new IceLiteTable(warehouse, ns, tbl,
      StructType(tableSchema.fields.filter(f => names.contains(f.name))),
      // keep a spec entry iff its SOURCE survives the projection (transform
      // entries name derived fields, not columns)
      partitionBy.filter(e =>
        names.contains(graft.icelite.PartField.parse(e).source)),
      files, renames, widened,
      specs.map(sp => sp.copy(cols = sp.cols.filter(e =>
        names.contains(graft.icelite.PartField.parse(e).source)))),
      deletes,
      // a PREFIX of the sort order survives any projection: files sorted
      // by (a, b) are sorted by (a)
      sortOrder.takeWhile(names.contains), viaCatalog, tableProps, changelogMode,
      streamFrom, streamFilters, addedColumns)

  /** This table with stream-planning filters attached (see
    * [[StreamScanPruning]]); each micro-batch prunes its added files
    * against them before any IO.
    */
  private[graft] def withStreamFilters(fs: Seq[Filter]): IceLiteTable =
    new IceLiteTable(warehouse, ns, tbl, tableSchema, partitionBy, files,
      renames, widened, specs, deletes, sortOrder, viaCatalog, tableProps,
      changelogMode, streamFrom, fs, addedColumns)
}

private[v2] class IceLiteScanBuilder(
    warehouse: String, ns: String, tbl: String,
    tableSchema: StructType, partitionBy: Seq[String],
    files: Seq[FileStat],
    // Some(op) = this scan feeds a row-level operation: it must never drop
    // rows inside a planned file, and it reports what it planned (group-
    // based ops replace exactly those files; delta ops validate against
    // them at commit)
    rowLevel: Option[RowLevelPlanHook] = None,
    // streaming admission control: caps on data files / bytes per micro-batch
    streamMaxFiles: Option[Int] = None,
    streamMaxBytes: Option[Long] = None,
    // metadata-only rename events: map logical -> per-file-era physical names
    renames: Seq[graft.icelite.ColumnRename] = Nil,
    // columns ever type-widened (no row-group predicates on them)
    widened: Seq[String] = Nil,
    // partition-evolution ledger (spec per file era)
    specs: Seq[graft.icelite.PartSpecChange] = Nil,
    // outstanding position-delete files (merge-on-read)
    deletes: Seq[graft.icelite.DeleteStat] = Nil,
    // declared (write-enforced) sort order — reported by the scan
    sortOrder: Seq[String] = Nil,
    // streaming CDC changelog relation — see IceLiteChangelogStream
    changelogMode: Boolean = false,
    // streaming start offset (fresh checkpoints begin here)
    streamFrom: Option[Long] = None,
    // stream-planning filters (StreamScanPruning) — per-batch file pruning
    streamFilters: Seq[Filter] = Nil,
    // column-addition ledger (manifest NDV column statistics)
    addedColumns: Seq[graft.icelite.ColumnAdd] = Nil)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownLimit
    with SupportsPushDownAggregates {

  private var required: StructType = tableSchema
  private var wantsFileCol = false
  private var wantsPosCol = false
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1
  private var aggResult: Option[(StructType, Seq[InternalRow])] = None

  /** Identity-partition columns whose value decodes exactly from EVERY
    * file's directory path under that file's own era spec — the columns a
    * filter may reference and still be applied EXACTLY by file pruning.
    * A renamed column (old dirs carry the old name) or a file from an era
    * that did not identity-partition it drops the column here
    * automatically, so the claim below can never outrun the layout.
    */
  private lazy val exactPartCols: Set[String] = {
    val candidates = graft.icelite.PartField.identityCols(partitionBy).toSet
    candidates.filter { c =>
      tableSchema.fieldNames.contains(c) && files.forall { f =>
        val spec = graft.icelite.PartField.specFor(f, partitionBy, specs)
        graft.icelite.PartField.identityCols(spec).contains(c) && {
          val raw = f.partRaw(Seq(c))
          PartValues.decodeExternal(tableSchema, Seq(c), raw).contains(c)
        }
      }
    }
  }

  /** May partition-exact filters be claimed as fully pushed on this scan?
    * Row-level command scans serve the full row set of affected files,
    * the changelog relation reads era-mixed delete resolution state, and
    * the streaming source plans per-batch — all keep filters residual.
    */
  private def mayClaimExact: Boolean =
    rowLevel.isEmpty && !changelogMode && streamFrom.isEmpty

  private def exactOf(fs: Array[Filter]): Array[Filter] =
    if (!mayClaimExact) Array.empty
    else fs.filter(f =>
      FilePrune.exactOnPartitions(f, tableSchema, exactPartCols))

  /** The aggregate answered from the manifest, with any partition-exact
    * pushed filters applied as exact file pruning first; residual (non-
    * exact) filters refuse — their totals would be over the wrong rows.
    * Memoized on the Aggregation instance: Spark calls
    * supportCompletePushDown and pushAggregation back-to-back with the
    * same object, and the O(files) decode+prune+fold should run once.
    */
  private var lastAgg: Option[(Aggregation, Option[(StructType, Seq[InternalRow])])] = None
  private def evalAgg(agg: Aggregation)
      : Option[(StructType, Seq[InternalRow])] = lastAgg match {
    case Some((a, r)) if a eq agg => r
    case _ =>
      val r = evalAggUncached(agg)
      lastAgg = Some((agg, r))
      r
  }

  private def evalAggUncached(agg: Aggregation)
      : Option[(StructType, Seq[InternalRow])] = {
    val exact = exactOf(pushed)
    val residual = pushed.filterNot(exact.contains)
    val fs =
      if (exact.isEmpty) files
      else files.filter { f =>
        val spec = graft.icelite.PartField.specFor(f, partitionBy, specs)
        val idCols = graft.icelite.PartField.identityCols(spec)
        val pv = PartValues.decodeExternal(tableSchema, idCols, f.partRaw(idCols))
        exact.forall(fl => FilePrune.canMatch(fl, tableSchema, f, pv))
      }
    ManifestAgg.evaluate(agg, tableSchema, partitionBy, fs, residual, specs)
  }

  /** COUNT(*) / COUNT(col) / MIN(col) / MAX(col) answer straight from the
    * manifest: sums of per-file row/null counts and fold of per-file
    * min/max. A 100 TB COUNT(*) becomes a metadata-only query — zero file
    * IO, zero tasks reading parquet. A pushed filter refuses UNLESS it is
    * partition-exact (then it already selected exactly the matching files);
    * missing stats or a hive-partitioned aggregate column also refuse.
    */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    rowLevel.isEmpty && deletes.isEmpty && evalAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    // a row-level operation's scan must yield full rows of the affected
    // files — never an aggregated answer. Outstanding position deletes
    // make the manifest totals wrong too (they count deleted rows).
    if (rowLevel.isDefined || deletes.nonEmpty) return false
    val r = evalAgg(agg)
    aggResult = r
    r.isDefined
  }

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve table-declared field order for a stable reader projection
    required = StructType(tableSchema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))
    wantsFileCol = requiredSchema.fieldNames.contains(IceLiteScan.FileMetaCol)
    wantsPosCol = requiredSchema.fieldNames.contains(IceLiteScan.PosMetaCol)
  }

  /** Filters stay residual — Spark re-evaluates above the scan with full
    * three-valued NULL semantics — with ONE exception: partition-exact
    * filters ([[FilePrune.exactOnPartitions]] over [[exactPartCols]]) are
    * claimed as fully pushed. For those, every row of a file shares the
    * file's partition tuple, so file pruning IS the filter (kept file ⟺
    * all rows satisfy it) and re-evaluation would be a no-op; claiming
    * them is what lets an Aggregate push down UNDER a partition predicate
    * ("rows per day WHERE region = …" from manifests alone). Everything
    * else — data-column predicates, mixed conjuncts, unnormalizable
    * literals, evolved/renamed layouts — stays residual, and the copy the
    * source keeps still drives the conservative file-level pruning.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    val exact = exactOf(filters)
    filters.filterNot(exact.contains)
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pushLimit(n: Int): Boolean = { limit = n; false /* partial: per-partition */ }

  override def build(): Scan = aggResult match {
    case Some((schema, rows)) if rowLevel.isEmpty =>
      new IceLiteAggScan(s"$ns.$tbl", schema, rows)
    case _ =>
      new IceLiteScan(warehouse, ns, tbl, tableSchema, partitionBy, required,
        files, pushed, limit, rowLevel, wantsFileCol, wantsPosCol,
        streamMaxFiles, renames, widened, specs, deletes, sortOrder,
        changelogMode, streamFrom, streamFilters, streamMaxBytes,
        addedColumns = addedColumns)
  }
}

/** Evaluates a pushed aggregation against the snapshot manifest. */
private[v2] object ManifestAgg {

  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}

  private def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames()(0))
      case _ => None
    }

  /** The hidden-partitioning transform a pushed grouping expression denotes,
    * when it is one of THIS catalog's own functions over a plain column —
    * `GROUP BY system.days(ts)` reaches the source as
    * `UserDefinedScalarFunc("days", "icelite.days(…)", [ts])`. Foreign
    * functions that merely share a name are screened out by canonicalName.
    */
  private def transformKeyOf(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[graft.icelite.PartField] = {
    import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, UserDefinedScalarFunc}
    import graft.icelite._
    def intLit(x: org.apache.spark.sql.connector.expressions.Expression): Option[Int] =
      x match {
        case l: V2Literal[_] if l.dataType == IntegerType =>
          Some(l.value.asInstanceOf[Number].intValue)
        case _ => None
      }
    e match {
      case u: UserDefinedScalarFunc if u.canonicalName().startsWith("icelite.") =>
        (u.name(), u.children().toSeq) match {
          case ("days", Seq(c)) => colOf(c).map(DaysField)
          case ("months", Seq(c)) => colOf(c).map(MonthsField)
          case ("years", Seq(c)) => colOf(c).map(YearsField)
          case ("hours", Seq(c)) => colOf(c).map(HoursField)
          case ("bucket", Seq(n, c)) =>
            for (w <- intLit(n); src <- colOf(c)) yield BucketField(w, src)
          case ("truncate", Seq(n, c)) =>
            for (w <- intLit(n); src <- colOf(c)) yield TruncateField(w, src)
          case _ => None
        }
      case _ => None
    }
  }

  /** Exact identity-partition value per file (catalyst-internal; None for
    * the hive null partition), when EVERY file's own-era spec identity-
    * partitions `c` and its directory value decodes. This is what makes
    * aggregates OVER partition columns metadata-answerable: the values
    * live in paths, not file stats, but they are exact per-file constants
    * — `MAX(day)` ("latest partition") is the single most common
    * operational query on a time-partitioned table.
    */
  private def partitionVals(c: String, files: Seq[FileStat],
      tableSchema: StructType, partitionBy0: Seq[String],
      specs: Seq[graft.icelite.PartSpecChange])
      : Option[Seq[(FileStat, Option[Any])]] = {
    if (!tableSchema.fieldNames.contains(c)) return None
    val out = Seq.newBuilder[(FileStat, Option[Any])]
    files.foreach { f =>
      val spec = graft.icelite.PartField.specFor(f, partitionBy0, specs)
      if (!graft.icelite.PartField.identityCols(spec).contains(c)) return None
      val raw = f.partRaw(Seq(c))
      if (!raw.contains(c)) return None
      raw(c) match {
        case None => out += f -> None
        case Some(_) =>
          val d = PartValues.decodeExternal(tableSchema, Seq(c), raw)
          if (!d.contains(c)) return None
          out += f -> Some(d(c))
      }
    }
    Some(out.result())
  }

  /** The per-group aggregate (schema, values) over one file subset, or None
    * when the manifest cannot answer exactly.
    */
  private def evalAggs(agg: Aggregation, tableSchema: StructType,
      partitionBy: Seq[String], files: Seq[FileStat],
      partitionBy0: Seq[String], specs: Seq[graft.icelite.PartSpecChange])
      : Option[(StructType, Vector[Any])] = {
    def pvalsOf(c: String) =
      partitionVals(c, files, tableSchema, partitionBy0, specs)
    // (exact sum of non-null values, non-null row count) of an integral
    // column — writer-recorded per-file sums (FileStat.sums) for data
    // columns, directory value × rows for identity partition columns —
    // or None when the manifest cannot answer exactly (a file written by
    // a sum-less path, unknown null counts, a per-file overflow latch).
    // SUM and AVG both fold through this.
    def exactSumCount(c: String): Option[(BigInt, Long)] = {
      if (!tableSchema.fieldNames.contains(c)) return None
      val dt = tableSchema(c).dataType
      dt match {
        case LongType | IntegerType | ShortType | ByteType => ()
        case _ => return None
      }
      if (partitionBy.contains(c))
        pvalsOf(c).map { vals =>
          val contrib = vals.filter(_._1.rows > 0)
          (contrib.collect { case (f, Some(v)) =>
            BigInt(v.asInstanceOf[Number].longValue) * f.rows }.sum,
            contrib.collect { case (f, Some(_)) => f.rows }.sum)
        }
      else {
        val contrib = files.filter(_.rows > 0)
        if (!contrib.forall(f => f.nullCount(c).isDefined)) None
        else {
          // files holding at least one non-null value must carry an exact
          // sum; all-null files legitimately contribute 0
          val needed = contrib.filter(f => f.nullCount(c).get < f.rows)
          if (!needed.forall(f => f.sumOf(c).isDefined)) None
          else Some((needed.map(f => f.sumOf(c).get).sum,
            contrib.map(f => f.rows - f.nullCount(c).get).sum))
        }
      }
    }
    // Decimal analog of exactSumCount: fold the scaled-string per-file sums
    // exactly in BigDecimal space. A parsed sum whose scale exceeds the
    // column's is malformed and refuses; dot-less strings are fine here
    // (unlike min/max there is no legacy encoding — decimal sums were born
    // scaled — and scale-0 strings are legitimately dot-less).
    def exactDecimalSum(c: String, dt: DecimalType)
        : Option[(java.math.BigDecimal, Long)] = {
      val contrib = files.filter(_.rows > 0)
      if (!contrib.forall(f => f.nullCount(c).isDefined)) return None
      val needed = contrib.filter(f => f.nullCount(c).get < f.rows)
      val parsed = needed.map(f => f.sums.get(c).flatMap(s =>
        scala.util.Try(new java.math.BigDecimal(s)).toOption
          .filter(_.scale <= dt.scale)))
      if (parsed.contains(None)) None
      else Some((parsed.flatten
        .foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).setScale(dt.scale),
        contrib.map(f => f.rows - f.nullCount(c).get).sum))
    }
    val values = Vector.newBuilder[Any]
    var schema = StructType(Nil)
    val ok = agg.aggregateExpressions().zipWithIndex.forall {
      case (_: CountStar, i) =>
        schema = schema.add(s"count_star_$i", LongType, nullable = false)
        values += files.map(_.rows).sum
        true
      case (c: Count, i) if !c.isDistinct =>
        colOf(c.column) match {
          // identity partition column: a file's rows are ALL null (hive
          // null dir) or ALL non-null — the null accounting is the layout
          case Some(col) if partitionBy.contains(col) =>
            pvalsOf(col).exists { vals =>
              schema = schema.add(s"count_$i", LongType, nullable = false)
              values += vals.filter(_._2.isDefined).map(_._1.rows).sum
              true
            }
          case Some(col) if files.forall(_.nullCount(col).isDefined) =>
            schema = schema.add(s"count_$i", LongType, nullable = false)
            values += files.map(f => f.rows - f.nullCount(col).get).sum
            true
          case _ => false
        }
      // COUNT(DISTINCT partition_col): the distinct directory values of
      // non-empty files — exact, because an identity column's value set IS
      // its directory set ("how many days of data" as a metadata read)
      case (c: Count, i) if c.isDistinct =>
        colOf(c.column).filter(partitionBy.contains) match {
          case Some(col) =>
            pvalsOf(col).exists { vals =>
              schema = schema.add(s"count_$i", LongType, nullable = false)
              values += vals.filter(v => v._1.rows > 0 && v._2.isDefined)
                .map(_._2.get).distinct.size.toLong
              true
            }
          case _ => false
        }
      // SUM over an integral data column, answered from the writer-recorded
      // per-file sums (FileStat.sums): exact BigInt fold, SQL NULL when no
      // non-null value exists anywhere. Refuses when any contributing file
      // lacks the stat (written by a non-DSv2 path, or its per-file sum
      // overflowed), when null counts are unknown, or when the exact total
      // exceeds Long range (the scan then surfaces Spark's own overflow
      // semantics instead of a silently wrapped metadata answer).
      case (sm: org.apache.spark.sql.connector.expressions.aggregate.Sum, i)
          if !sm.isDistinct =>
        colOf(sm.column) match {
          // SUM over a decimal data column: per-file sums are SCALED plain
          // strings (the writer's unscaled-long accumulation rendered with
          // the type's scale); fold exactly in BigDecimal space and serve
          // Spark's Sum result type DecimalType(min(38, p+10), s). Refuses
          // when the total cannot fit that type (the scan then surfaces
          // Spark's own decimal-overflow semantics) or any contributing
          // file lacks the stat. AVG over decimals needs no case of its
          // own: Spark rewrites Avg into Sum/Count BEFORE V2 pushdown, so
          // the exact total+count push and Spark's own Divide applies its
          // p+4/s+4 HALF_UP average contract above the scan.
          case Some(c) if tableSchema.fieldNames.contains(c) &&
              tableSchema(c).dataType.isInstanceOf[DecimalType] &&
              !partitionBy.contains(c) =>
            val d = tableSchema(c).dataType.asInstanceOf[DecimalType]
            val resType = DecimalType(math.min(38, d.precision + 10), d.scale)
            exactDecimalSum(c, d) match {
              case Some((_, 0L)) =>
                schema = schema.add(s"sum_$i", resType, nullable = true)
                values += null
                true
              case Some((total, _)) =>
                val dec = org.apache.spark.sql.types.Decimal(total)
                if (!dec.changePrecision(resType.precision, resType.scale))
                  false // overflow: fall back to the scan's own semantics
                else {
                  schema = schema.add(s"sum_$i", resType, nullable = true)
                  values += dec
                  true
                }
              case None => false
            }
          case co => co.flatMap(exactSumCount) match {
            case Some((total, n)) if n == 0 || total.isValidLong =>
              schema = schema.add(s"sum_$i", LongType, nullable = true)
              values += (if (n == 0) null else total.toLong)
              true
            case _ => false // exceeds Long: the scan surfaces Spark's own
                            // overflow semantics instead of a wrapped answer
          }
        }
      // AVG = exact total / non-null count, ONE double rounding — a
      // RECORDED DECISION, not an oversight: the non-pushed plan folds
      // per-row doubles in partition order, so the same query can return
      // a last-ulp-different double depending on whether pushdown fires
      // (and, non-pushed, on partitioning). The pushed answer is the
      // deterministic one — exact integer total, single division — so we
      // prefer it over bit-compatibility with Spark's order-dependent
      // fold. Unlike SUM there is no isValidLong refusal: SUM must return
      // a LONG (an overflowed total cannot, so it refuses and lets the
      // scan surface Spark's overflow semantics), while AVG's contract is
      // already a double — BigDecimal(total).toDouble rounds correctly at
      // any magnitude, nothing overflows.
      case (av: org.apache.spark.sql.connector.expressions.aggregate.Avg, i)
          if !av.isDistinct =>
        colOf(av.column).flatMap(exactSumCount) match {
          case Some((total, n)) =>
            schema = schema.add(s"avg_$i", DoubleType, nullable = true)
            values += (if (n == 0) null
            else BigDecimal(total).toDouble / n)
            true
          case _ => false
        }
      // MIN/MAX over an identity partition column folds the exact directory
      // values of non-empty files ("latest partition" as a metadata read)
      case (m: Min, i) if colOf(m.column).exists(partitionBy.contains) =>
        partMinMax(colOf(m.column).get, isMin = true, files, tableSchema,
          partitionBy0, specs).exists { case (dt, v) =>
          schema = schema.add(s"min_$i", dt, nullable = true)
          values += v
          true
        }
      case (m: Max, i) if colOf(m.column).exists(partitionBy.contains) =>
        partMinMax(colOf(m.column).get, isMin = false, files, tableSchema,
          partitionBy0, specs).exists { case (dt, v) =>
          schema = schema.add(s"max_$i", dt, nullable = true)
          values += v
          true
        }
      case (m: Min, i) => minMax(m.column, files, tableSchema, partitionBy,
        isMin = true).exists { case (dt, v) =>
          schema = schema.add(s"min_$i", dt, nullable = true)
          values += v
          true
        }
      case (m: Max, i) => minMax(m.column, files, tableSchema, partitionBy,
        isMin = false).exists { case (dt, v) =>
          schema = schema.add(s"max_$i", dt, nullable = true)
          values += v
          true
        }
      case _ => false
    }
    if (!ok) None else Some((schema, values.result()))
  }

  /** The aggregated (schema, rows), or None when the manifest cannot answer
    * exactly. Ungrouped aggregates produce one row; aggregates GROUPED BY
    * identity partition columns produce one row per partition value — the
    * per-partition operational counts ("rows per day") a 100 TB table
    * answers from metadata in milliseconds instead of a full scan.
    */
  def evaluate(agg: Aggregation, tableSchema: StructType, partitionBy0: Seq[String],
      files: Seq[FileStat], pushedFilters: Array[Filter],
      specs: Seq[graft.icelite.PartSpecChange] = Nil)
      : Option[(StructType, Seq[InternalRow])] = {
    // treat a column IDENTITY-partitioned in ANY era as partition-valued:
    // files from those eras carry no stats for it. Transform sources are
    // ordinary data columns with stats in their eras.
    val partitionBy = (graft.icelite.PartField.identityCols(partitionBy0) ++
      specs.flatMap(s => graft.icelite.PartField.identityCols(s.cols))).distinct
    // any RESIDUAL filter means the manifest totals are over the wrong row
    // set (callers pre-prune `files` by partition-exact filters and pass
    // only the rest here)
    if (pushedFilters.nonEmpty) return None
    if (files.exists(_.rows < 0)) return None // legacy manifest: unknown rows

    val grouping = agg.groupByExpressions().toSeq
    if (grouping.isEmpty)
      return evalAggs(agg, tableSchema, partitionBy, files, partitionBy0, specs).map {
        case (schema, vals) =>
          (schema, Seq(new GenericInternalRow(vals.toArray)))
      }
    // grouped: supported exactly when every grouping key binds from the
    // directory layout of the one-and-only spec era — an identity partition
    // column, or a catalog transform function matching a transform entry of
    // the spec (GROUP BY system.days(ts) on a days(ts)-partitioned table is
    // "rows per day" answered from manifests alone). Each file then belongs
    // to exactly one group, read from its directory values.
    if (specs.nonEmpty) return None
    val identityNow = graft.icelite.PartField.identityCols(partitionBy0)
    val specNow = graft.icelite.PartField.parseSpec(partitionBy0)
    // (directory field, served StructField) per grouping expression; the
    // served type must be exactly the catalyst type of the grouping
    // expression (the function's resultType) or the rewritten plan above
    // the scan would read the wrong physical type
    val keys: Seq[(String, StructField)] = grouping.map { e =>
      colOf(e) match {
        case Some(c) if identityNow.contains(c) => (c, tableSchema(c))
        case Some(_) => return None // non-partition plain column
        case None => transformKeyOf(e) match {
          case Some(t) if specNow.contains(t) =>
            val dt = t match {
              case graft.icelite.TruncateField(_, src) => tableSchema(src).dataType
              case _ => IntegerType
            }
            (t.fieldName, StructField(t.fieldName, dt, nullable = true))
          case _ => return None
        }
      }
    }
    val dirFields = keys.map(_._1)
    val groupSchema = StructType(keys.map(_._2))
    // a zero-row data file must not materialize its partition value as a
    // group: real aggregation emits no row for an empty group. Writers
    // open files lazily so these should not occur, but the invariant is
    // kept local rather than assumed.
    val parsed = files.filter(_.rows > 0)
      .map(f => f -> f.partRaw(dirFields))
    // a path missing any group directory segment cannot be grouped from
    // metadata — refuse rather than fold it into the null group
    if (parsed.exists { case (_, m) => !dirFields.forall(m.contains) }) return None
    val byGroup = parsed.groupBy { case (_, m) => dirFields.map(m(_)) }
      .map { case (k, fs) => k -> fs.map(_._1) }
    val rows = Vector.newBuilder[InternalRow]
    var aggSchema: Option[StructType] = None
    val ok = byGroup.toSeq.sortBy(_._1.toString)
      .forall { case (key, groupFiles) =>
        evalAggs(agg, tableSchema, partitionBy, groupFiles, partitionBy0, specs) match {
          case Some((schema, vals)) =>
            aggSchema = Some(schema)
            val keyRow = PartValues.internalRow(groupSchema,
              dirFields.zip(key).toMap)
            rows += new GenericInternalRow(
              (groupSchema.fields.indices.map(i =>
                if (keyRow.isNullAt(i)) null
                else keyRow.get(i, groupSchema.fields(i).dataType)) ++ vals).toArray)
            true
          case None => false
        }
      }
    if (!ok || aggSchema.isEmpty) None
    else Some((StructType(groupSchema.fields ++ aggSchema.get.fields), rows.result()))
  }

  /** MIN/MAX of an identity partition column from its exact directory
    * values (non-empty files only; hive-null partitions yield no value, so
    * an all-null column folds to SQL NULL).
    */
  private def partMinMax(c: String, isMin: Boolean, files: Seq[FileStat],
      tableSchema: StructType, partitionBy0: Seq[String],
      specs: Seq[graft.icelite.PartSpecChange]): Option[(DataType, Any)] =
    partitionVals(c, files, tableSchema, partitionBy0, specs).map { vals =>
      val dt = tableSchema(c).dataType
      val nonNull = vals.filter(v => v._1.rows > 0 && v._2.isDefined).map(_._2.get)
      (dt, if (nonNull.isEmpty) null
      else nonNull.reduce((a, b) =>
        if (cmpCatalyst(dt, a, b) <= 0 == isMin) a else b))
    }

  /** Fold per-file min/max stats for `col` into one catalyst value, or None
    * when any file (with rows) lacks usable stats. All-null columns yield a
    * NULL aggregate, matching SQL MIN/MAX.
    */
  private def minMax(e: org.apache.spark.sql.connector.expressions.Expression,
      files: Seq[FileStat], tableSchema: StructType, partitionBy: Seq[String],
      isMin: Boolean): Option[(DataType, Any)] =
    colOf(e).filterNot(partitionBy.contains).flatMap { col =>
      if (!tableSchema.fieldNames.contains(col)) return None
      val dt = tableSchema(col).dataType
      // files that contain at least one non-null value must carry stats;
      // all-null or empty files legitimately have none
      val contributing = files.filter(f =>
        f.rows > 0 && !f.nullCount(col).contains(f.rows))
      if (!contributing.forall(f => f.min.contains(col) && f.max.contains(col)))
        return None
      // a file with unknown null count but absent stats is indistinguishable
      // from missing stats — the forall above already refused that case
      val raws = contributing.map(f => if (isMin) f.min(col) else f.max(col))
      val parsed = raws.map(r => parseTyped(dt, r))
      if (parsed.contains(None)) return None
      val vals = parsed.flatten
      if (vals.isEmpty) Some((dt, null)) // MIN/MAX over no non-null rows
      else Some((dt, vals.reduce((a, b) =>
        if (cmpCatalyst(dt, a, b) <= 0 == isMin) a else b)))
    }

  /** Parse a manifest stat string into the catalyst-internal value. */
  private def parseTyped(dt: DataType, s: String): Option[Any] = dt match {
    case LongType => s.toLongOption
    case IntegerType | DateType => s.toIntOption
    case ShortType => s.toShortOption
    case ByteType => s.toByteOption
    case DoubleType => s.toDoubleOption.filterNot(_.isNaN)
    // float stats are stored exactly widened to double; narrow back
    case FloatType => s.toDoubleOption.filterNot(_.isNaN).map(_.toFloat)
    case TimestampType | TimestampNTZType => s.toLongOption
    case StringType => Some(UTF8String.fromString(s))
    case BooleanType => s.toBooleanOption
    // decimal stats are scaled plain strings; parse in exact decimal space.
    // Legacy-domain guard (same as FilePrune.parseStat): pre-scaled-encoder
    // manifests recorded UNSCALED longs for INT32/INT64-physical decimals,
    // and for scale>0 the scaled encoder ALWAYS emits a '.', so a dot-less
    // stat under scale>0 is provably legacy — refuse (no pushdown) rather
    // than serve a bound inflated by 10^scale. scale=0 domains coincide.
    case d: DecimalType =>
      if (d.scale > 0 && !s.contains('.')) None
      else scala.util.Try {
        val dec = org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(s))
        if (dec.changePrecision(d.precision, d.scale)) dec
        else throw new IllegalArgumentException(s"stat '$s' outside $d")
      }.toOption
    case _ => None
  }

  private def cmpCatalyst(dt: DataType, a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Int, y: Int) => Integer.compare(x, y)
    case (x: Short, y: Short) => java.lang.Short.compare(x, y)
    case (x: Byte, y: Byte) => java.lang.Byte.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: Float, y: Float) => java.lang.Float.compare(x, y)
    case (x: UTF8String, y: UTF8String) => x.binaryCompare(y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case (x: org.apache.spark.sql.types.Decimal,
          y: org.apache.spark.sql.types.Decimal) => x.compare(y)
    case _ => throw new IllegalStateException(s"incomparable $a / $b")
  }
}

/** A scan whose entire result was computed from the manifest at plan time:
  * one partition, one row, zero parquet IO.
  */
private[v2] class IceLiteAggScan(
    tableName: String, aggSchema: StructType, rows: Seq[InternalRow])
    extends Scan with Batch {

  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"icelite $tableName aggPushed=[${aggSchema.fieldNames.mkString(",")}] (manifest-only)"

  override def planInputPartitions(): Array[InputPartition] =
    Array(IceLiteAggPartition(aggSchema.json,
      rows.map(row =>
        aggSchema.fields.indices.map(i =>
          if (row.isNullAt(i)) null
          else row.get(i, aggSchema.fields(i).dataType) match {
            case u: UTF8String => u.toString // serializable surrogate
            case v => v
          }).toArray).toArray))

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val ap = p.asInstanceOf[IceLiteAggPartition]
        val schema = DataType.fromJson(ap.schemaJson).asInstanceOf[StructType]
        val decoded = ap.rows.map(_.zipWithIndex.map {
          case (s: String, i) if schema.fields(i).dataType == StringType =>
            UTF8String.fromString(s)
          case (v, _) => v
        })
        new PartitionReader[InternalRow] {
          private var i = -1
          override def next(): Boolean = { i += 1; i < decoded.length }
          override def get(): InternalRow = new GenericInternalRow(decoded(i))
          override def close(): Unit = ()
        }
      }
    }
}

private[v2] case class IceLiteAggPartition(schemaJson: String, rows: Array[Array[Any]])
    extends InputPartition

/** Read-only in-memory DSv2 table serving a metadata listing — the engine
  * behind SQL `<cat>.<ns>.<tbl>.snapshots` / `.files` (Iceberg's metadata
  * tables). Rows are built driver-side from the version log / manifest
  * (metadata-sized by construction) and shipped as one input partition.
  */
private[v2] object IceLiteMeta {

  val names: Set[String] = Set(
    "snapshots", "files", "refs", "deletes", "history", "manifests",
    "partitions", "stats", "all_files", "metadata_log_entries",
    "entries", "all_entries", "all_manifests", "position_deletes",
    // Iceberg's name-split spellings: a user porting Iceberg SQL hits
    // these names first. data variants are the same serving machinery as
    // `files`/`all_files` (icelite's file listings ARE data-file listings
    // — delete files live in their own ledger); delete variants collapse
    // `.deletes`' per-target rows to the delete-FILE grain.
    "data_files", "delete_files", "all_data_files", "all_delete_files")

  def table(meta: graft.icelite.TableMeta,
      fs: org.apache.hadoop.fs.FileSystem, kind: String,
      tableDir: Path = null): Table = kind match {
    case "entries" =>
      // manifest entries of the CURRENT snapshot (Iceberg's .entries):
      // status 1 = added by the current snapshot, 0 = existing (carried);
      // snapshot_id = the snapshot that ADDED the file (the MOST RECENT
      // add — a removed-then-re-added path belongs to the re-adder, the
      // manifest entry's own snapshot in Iceberg terms); data_file = the
      // entry's stat struct. Driver cost is O(snapshots) shallow manifest
      // reads + O(files) rows — the same budget as .all_files' inline path.
      val schema = StructType.fromDDL(
        "status INT, snapshot_id BIGINT, " +
          "data_file STRUCT<path: STRING, rows: BIGINT, bytes: BIGINT>")
      // MOST RECENT add wins (ascending scan overwrites): Iceberg's
      // .entries reports the manifest entry's own snapshot_id, so a path
      // removed and later re-added belongs to the re-adding snapshot —
      // first-add attribution would mis-flag a current-snapshot re-add as
      // status 0. (icelite commits write fresh paths, so re-adds are
      // import-shaped edge cases — but the semantics should match.)
      // The walk covers ONLY the current head's ancestor chain (parent
      // pointers), never the whole snapshot log: after a rollback, a path
      // also registered by add_files on an abandoned "future" snapshot
      // must not steal attribution from its real (ancestor) adder — that
      // would flip a visible file's status 1 -> 0.
      val addedBy = scala.collection.mutable.Map[String, Long]()
      meta.currentAncestors.reverse.foreach { s =>
        graft.icelite.FileStats.addedPathsOf(fs, s).foreach { p =>
          addedBy(graft.icelite.FileStats.normPath(p)) = s.snapshotId
        }
      }
      val cur = meta.currentSnapshotId
      val rows = meta.currentSnapshot
        .map(s => graft.icelite.FileStats.visible(fs, s)).getOrElse(Nil)
        .map { f =>
          val snap = addedBy.getOrElse(
            graft.icelite.FileStats.normPath(f.path), cur)
          Array[Any](
            Int.box(if (snap == cur) 1 else 0), Long.box(snap),
            new GenericInternalRow(Array[Any](
              UTF8String.fromString(f.path), Long.box(f.rows),
              Long.box(f.bytes))))
        }
      new IceLiteMetaTable(s"${meta.namespace}.${meta.name}.entries", schema, rows)
    case "all_entries" =>
      // manifest entries of EVERY snapshot (Iceberg's .all_entries):
      // (snapshot, status, data_file) where status is relative to that
      // snapshot's own manifest (1 = added by it, 0 = carried). Rows are
      // O(snapshots x files), so like .all_files this serves SNAPSHOT-
      // PARALLEL when history is fully externalized: each task resolves
      // its own snapshot's manifest and the status test (path in the
      // doc's OWN addedPaths) is self-contained — zero driver data.
      val schema = StructType.fromDDL(
        "snapshot_id BIGINT, status INT, " +
          "data_file STRUCT<path: STRING, rows: BIGINT, bytes: BIGINT>")
      val tblName = s"${meta.namespace}.${meta.name}.all_entries"
      if (meta.snapshots.nonEmpty && meta.snapshots.forall(s =>
          s.manifestFile.nonEmpty && s.addedFiles.isEmpty))
        new IceLiteAllEntriesTable(tblName, schema,
          meta.snapshots.map(s => (s.snapshotId, s.manifestFile)))
      else {
        // pre-manifest (in-memory/legacy) snapshots are metadata-sized
        // by construction: inline rows
        val rows = meta.snapshots.flatMap { s =>
          val added = graft.icelite.FileStats.addedPathsOf(fs, s)
            .map(graft.icelite.FileStats.normPath).toSet
          graft.icelite.FileStats.visible(fs, s).map(f =>
            IceLiteAllEntries.row(s.snapshotId, added, f))
        }
        new IceLiteMetaTable(tblName, schema, rows)
      }
    case "all_manifests" =>
      // every manifest DOCUMENT reachable from any snapshot, with the
      // referencing snapshot and its depth in the delta chain (0 = the
      // snapshot's own head document) — Iceberg's .all_manifests, extended
      // with the chain view: the rebase-pressure ledger across history,
      // where `.manifests` shows only each snapshot's head.
      // O(snapshots x chain) shallow metadata reads, zero data IO.
      val schema = StructType.fromDDL(
        "snapshot_id BIGINT, path STRING, length_bytes BIGINT, " +
          "depth INT, is_delta BOOLEAN")
      val rows = meta.snapshots.filter(_.manifestFile.nonEmpty).flatMap { s =>
        val b = Seq.newBuilder[Array[Any]]
        var path = s.manifestFile
        var depth = 0
        var continue = true
        while (continue && path.nonEmpty) {
          val (len, base) =
            try {
              val doc = graft.icelite.MetaIo.readManifestDocShallow(fs, path)
              (fs.getFileStatus(new Path(path)).getLen, doc.base)
            } catch { case _: java.io.FileNotFoundException => (-1L, "") }
          b += Array[Any](s.snapshotId, path, len, depth,
            Boolean.box(base.nonEmpty))
          if (base.isEmpty || len < 0) continue = false
          path = base
          depth += 1
        }
        b.result()
      }
      new IceLiteMetaTable(
        s"${meta.namespace}.${meta.name}.all_manifests", schema, rows)
    case "position_deletes" =>
      // the outstanding position-delete ROWS of the current snapshot
      // (Iceberg's .position_deletes): one row per deleted (file, pos) —
      // the forensic view behind `.deletes`' per-file counts. Served
      // DELETE-FILE-PARALLEL: the driver ships only delete-file paths,
      // each task parses its own parquet delete file executor-side.
      val schema = StructType.fromDDL(
        "file_path STRING, pos BIGINT, delete_file STRING")
      val files = meta.currentSnapshot
        .map(s => graft.icelite.FileStats.deletesOf(fs, s)).getOrElse(Nil)
        .filterNot(_.isEquality).map(_.path)
      new IceLitePosDeletesTable(
        s"${meta.namespace}.${meta.name}.position_deletes", schema, files)
    case "metadata_log_entries" =>
      // the version log itself (Iceberg's .metadata_log_entries): one row
      // per durable metadata version — the ops view of the COMMIT history,
      // including versions whose current snapshot later moved (rollback)
      // or whose snapshots expired. latest_snapshot_id is NULL for
      // versions with no snapshot yet (fresh DDL). O(versions) metadata
      // reads, bounded by version-log retention.
      val schema = StructType.fromDDL(
        "version INT, file STRING, latest_snapshot_id BIGINT, " +
          "snapshot_count INT")
      require(tableDir != null,
        "metadata_log_entries needs the table dir to list version files")
      val rows = graft.icelite.MetaIo.versionLog(fs, tableDir)
        .map { case (v, m, path) => Array[Any](v, path,
          if (m.currentSnapshotId > 0) m.currentSnapshotId else null,
          m.snapshots.size) }
      new IceLiteMetaTable(
        s"${meta.namespace}.${meta.name}.metadata_log_entries", schema, rows)
    case "refs" =>
      // named refs with their recorded KIND (Iceberg's .refs): 'tag' pins
      // a snapshot forever, 'branch' is a ref a write has advanced
      // (appendToRef flips it). Refs created before the kind ledger
      // existed serve NULL rather than a fabricated kind.
      val schema = StructType.fromDDL(
        "name STRING, type STRING, snapshot_id BIGINT")
      val rows = meta.refs.keys.toSeq.sorted
        .map(n => Array[Any](n, meta.refTypes.getOrElse(n, null),
          meta.refSnapshot(n).get))
      new IceLiteMetaTable(s"${meta.namespace}.${meta.name}.refs", schema, rows)
    case "deletes" =>
      // outstanding merge-on-read delete files of the CURRENT snapshot:
      // the operational view a compaction policy reads ("how much delete
      // debt?"). Position deletes: one row per (delete file, data file)
      // slice with the exact position count. Equality deletes: one row per
      // delete file — data_file is NULL (scope is era+bounds, not a file
      // list), kind = 'equality', rows = the DELETE KEY count (matched rows
      // are unknown until read). Metadata-sized by MOR design.
      val schema = StructType.fromDDL(
        "delete_file STRING, kind STRING, data_file STRING, rows BIGINT, " +
          "key_columns STRING")
      val rows = meta.currentSnapshot
        .map(s => graft.icelite.FileStats.deletesOf(fs, s)).getOrElse(Nil)
        .flatMap { d =>
          if (d.isEquality)
            Seq(Array[Any](d.path, "equality", null, d.eqRows,
              d.eqCols.mkString(",")))
          else d.appliesTo.map(e =>
            Array[Any](d.path, "position", e.path, e.rows, null))
        }
      new IceLiteMetaTable(s"${meta.namespace}.${meta.name}.deletes", schema, rows)
    case "history" =>
      // table lineage (Iceberg's .history): rollbackTo moves the current
      // POINTER without a snapshot, so later writes branch — the recorded
      // parentId reconstructs which log entries are ancestors of current
      // and which are abandoned (still time-travelable until expiry)
      val schema = StructType.fromDDL(
        "made_current_at BIGINT, snapshot_id BIGINT, parent_id BIGINT, " +
          "is_current_ancestor BOOLEAN")
      // parent fallback + lineage walk live on TableMeta (parentOf /
      // currentAncestors) — the ONE spelling `.entries`,
      // `.all_delete_files`, rollback_to_timestamp, and ancestors_of share
      val ancestors = meta.currentAncestors.map(_.snapshotId).toSet
      val rows = meta.snapshots.map(s => Array[Any](
        s.timestampMs, s.snapshotId, meta.parentOf(s),
        ancestors(s.snapshotId)))
      new IceLiteMetaTable(s"${meta.namespace}.${meta.name}.history", schema, rows)
    case "manifests" =>
      // one external manifest document per snapshot (the O(snapshots)
      // metadata the version log points at)
      // chain_len surfaces the delta-chain depth (0 = full document) so a
      // maintenance policy can see rebase pressure without parsing docs
      val schema = StructType.fromDDL(
        "snapshot_id BIGINT, path STRING, length_bytes BIGINT, " +
          "added_files BIGINT, chain_len INT")
      val rows = meta.snapshots.filter(_.manifestFile.nonEmpty).map { s =>
        val (len, chain) =
          try (fs.getFileStatus(new Path(s.manifestFile)).getLen,
            graft.icelite.MetaIo.readManifestDocShallow(fs, s.manifestFile).chainLen)
          catch { case _: java.io.FileNotFoundException => (-1L, -1) }
        Array[Any](s.snapshotId, s.manifestFile, len,
          graft.icelite.FileStats.addedCount(s), chain)
      }
      new IceLiteMetaTable(s"${meta.namespace}.${meta.name}.manifests", schema, rows)
    case "partitions" =>
      // per-partition file/row/byte totals of the CURRENT snapshot — the
      // layout-health view (skew, small-file pressure) a maintenance
      // policy reads. Served manifest-parallel like `.files`: the task
      // parses the manifest and aggregates; the driver ships one PATH.
      val schema = StructType.fromDDL(
        "partition STRING, file_count BIGINT, row_count BIGINT, bytes BIGINT")
      meta.currentSnapshot match {
        case Some(s) if s.manifestFile.nonEmpty =>
          new IceLitePartitionsTable(
            s"${meta.namespace}.${meta.name}.partitions", schema, Seq(s.manifestFile))
        case Some(s) =>
          new IceLiteMetaTable(s"${meta.namespace}.${meta.name}.partitions",
            schema, IceLitePartitions.rows(graft.icelite.FileStats.visible(fs, s)))
        case None =>
          new IceLiteMetaTable(
            s"${meta.namespace}.${meta.name}.partitions", schema, Nil)
      }
    case "stats" =>
      // per-column table statistics from the CURRENT snapshot's manifest —
      // the SQL read surface for the writer-recorded NDV sketches (and the
      // footer null counts): `SELECT * FROM <cat>.<ns>.<tbl>.stats`.
      // `ndv` is the per-file HLL union estimate, falling back to the
      // snapshot-scoped table-level stats entry (compute_table_stats) when
      // file coverage refuses — the same serving rule as
      // IceTable.approxDistinct; NULL when both refuse. `null_count` sums
      // footer stats; everything here is zero-data-IO at any size.
      val schema = StructType.fromDDL(
        "column STRING, data_type STRING, ndv BIGINT, null_count BIGINT, " +
          "sketched BOOLEAN, bloomed BOOLEAN")
      val tableSchema = StructType.fromDDL(meta.schemaDdl)
      val statFiles = meta.currentSnapshot
        .map(s => graft.icelite.FileStats.visible(fs, s)).getOrElse(Nil)
      val rows = tableSchema.fields.toSeq.map { f =>
        // `ndv` serves the per-file HLL union first, then the snapshot-
        // scoped table-level stats entry (compute_table_stats) when file
        // coverage refuses; `sketched` stays strictly "per-file coverage
        // complete", so it doubles as the "has ANALYZE gone stale into
        // load-bearing?" probe — ndv non-null + sketched false = the value
        // is being served by table-level stats alone
        val fileNdv = graft.icelite.Ndv.estimate(
          meta.renames, meta.addedColumns, tableSchema, statFiles, f.name)
        val ndv = fileNdv
          .orElse(graft.icelite.Ndv
            .tableStatsEstimate(meta, tableSchema, f.name))
          .map(d => math.max(0L, math.round(d)))
        val nulls = graft.icelite.Ndv
          .nullCount(meta.renames, meta.addedColumns, statFiles, f.name)
        // full point-lookup coverage: EVERY visible file carries a
        // current-scheme bloom for the column (per-file pruning still
        // works under partial coverage; this flag is the operator's
        // "is the retrofit compaction done?" answer)
        // serviceability is PER TYPE (bloomVersionOk): a v1-era file still
        // serves v1-era-type probes, so it counts as covered for those
        val bloomed = statFiles.nonEmpty && statFiles.forall(sf =>
          FileStats.bloomVersionOk(f.dataType,
            sf.bloom.get(FileStats.BloomVersionKey)) && sf.bloom.contains(f.name))
        Array[Any](f.name, f.dataType.simpleString,
          ndv.map(Long.box).orNull, nulls.map(Long.box).orNull,
          Boolean.box(fileNdv.isDefined), Boolean.box(bloomed))
      }
      new IceLiteMetaTable(s"${meta.namespace}.${meta.name}.stats", schema, rows)
    case "snapshots" =>
      val schema = StructType.fromDDL(
        "snapshot_id BIGINT, timestamp_ms BIGINT, operation STRING, " +
          "added_files BIGINT, added_rows BIGINT, total_rows BIGINT, " +
          "is_current BOOLEAN")
      val rows = meta.snapshots.map(s => Array[Any](
        s.snapshotId, s.timestampMs, s.operation,
        graft.icelite.FileStats.addedCount(s),
        s.addedRows, s.totalRows, s.snapshotId == meta.currentSnapshotId))
      new IceLiteMetaTable(s"${meta.namespace}.${meta.name}.snapshots", schema, rows)
    // `data_files` is Iceberg's name-split spelling of the same rows:
    // icelite's visible-file listing IS the data-file listing (delete
    // files live in the snapshot's delete ledger, served below).
    case "files" | "data_files" =>
      val schema = StructType.fromDDL("path STRING, rows BIGINT, bytes BIGINT")
      meta.currentSnapshot match {
        // committed snapshots: ship only the manifest PATH to the executor
        // and parse there — the driver never materializes O(files) rows
        // (both manifest formats parse executor-side)
        case Some(s) if s.manifestFile.nonEmpty =>
          new IceLiteManifestFilesTable(
            s"${meta.namespace}.${meta.name}.$kind", schema, Seq(s.manifestFile))
        // in-memory / pre-upgrade metadata: inline rows (metadata-sized)
        case other =>
          val rows = other.map(s => graft.icelite.FileStats.visible(fs, s))
            .getOrElse(Nil).map(f => Array[Any](f.path, f.rows, f.bytes))
          new IceLiteMetaTable(s"${meta.namespace}.${meta.name}.$kind", schema, rows)
      }
    case "delete_files" =>
      // the outstanding delete FILES of the current snapshot — Iceberg's
      // .delete_files grain. `.deletes` explodes position files into one
      // row per TARGET data file; this view collapses back to the file:
      // rows = exactly-counted deleted positions for position files, the
      // DELETE KEY count for equality files (matched rows unknown until
      // read — DeleteStat.rows' own accounting rule). Metadata-sized by
      // MOR design.
      val schema = StructType.fromDDL(
        "path STRING, kind STRING, rows BIGINT, key_columns STRING")
      val rows = meta.currentSnapshot
        .map(s => graft.icelite.FileStats.deletesOf(fs, s)).getOrElse(Nil)
        .map { d =>
          if (d.isEquality)
            Array[Any](d.path, "equality", d.eqRows, d.eqCols.mkString(","))
          else Array[Any](d.path, "position", d.rows, null)
        }
      new IceLiteMetaTable(
        s"${meta.namespace}.${meta.name}.delete_files", schema, rows)
    case "all_delete_files" =>
      // every delete file reachable from ANY snapshot, keyed by the FIRST
      // snapshot that carries it (delete files join a table at the MOR
      // commit and are carried until a rewrite folds them, so first-carry
      // IS the committing snapshot) — the delete-debt lineage across
      // history, the all_* sibling of `.delete_files`. O(snapshots ×
      // outstanding deletes) driver rows: metadata-sized, since every
      // snapshot's delete ledger is. Attribution walks the current head's
      // ANCESTOR chain first (ascending), so a delete file carried on the
      // live lineage is always keyed to its lineage committer; abandoned
      // post-rollback branches are walked after — their delete files stay
      // LISTED (the view's reachability contract) but can never steal a
      // lineage file's attribution.
      val schema = StructType.fromDDL(
        "snapshot_id BIGINT, path STRING, kind STRING, rows BIGINT")
      val seen = scala.collection.mutable.Set[String]()
      val ancestors = meta.currentAncestors.reverse
      val ancestorIds = ancestors.map(_.snapshotId).toSet
      val walkOrder = ancestors ++
        meta.snapshots.filterNot(s => ancestorIds(s.snapshotId))
          .sortBy(_.snapshotId)
      val rows = walkOrder.flatMap { s =>
        graft.icelite.FileStats.deletesOf(fs, s).flatMap { d =>
          if (seen(d.path)) None
          else {
            seen += d.path
            Some(
              if (d.isEquality) Array[Any](s.snapshotId, d.path, "equality", d.eqRows)
              else Array[Any](s.snapshotId, d.path, "position", d.rows))
          }
        }
      }
      new IceLiteMetaTable(
        s"${meta.namespace}.${meta.name}.all_delete_files", schema, rows)
    case "all_files" | "all_data_files" =>
      // every data file EVER ADDED, with its committing snapshot — the
      // lineage/debug view (the Iceberg all_files analog, keyed by the
      // adding snapshot; files later rewritten away still appear under
      // the snapshot that introduced them). One input partition PER
      // SNAPSHOT, each parsing its own manifest executor-side — driver
      // cost stays O(snapshots) however many files history holds. Tables
      // with any pre-manifest (in-memory/legacy) snapshot serve inline:
      // those snapshots are metadata-sized by construction.
      val schema = StructType.fromDDL(
        "snapshot_id BIGINT, path STRING, rows BIGINT, bytes BIGINT")
      val tblName = s"${meta.namespace}.${meta.name}.$kind"
      // parallel only when every snapshot is fully externalized (legacy
      // bare-array manifests keep addedFiles INLINE on the snapshot — the
      // executor-parsed document would not see them)
      if (meta.snapshots.nonEmpty && meta.snapshots.forall(s =>
          s.manifestFile.nonEmpty && s.addedFiles.isEmpty))
        new IceLiteAllFilesTable(tblName, schema,
          meta.snapshots.map(s => (s.snapshotId, s.manifestFile)))
      else {
        val rows = meta.snapshots.flatMap(s =>
          IceLiteAllFiles.rows(s.snapshotId,
            graft.icelite.FileStats.addedPathsOf(fs, s),
            graft.icelite.FileStats.visible(fs, s)))
        new IceLiteMetaTable(tblName, schema, rows)
      }
    case other => throw new IllegalArgumentException(
      s"unknown icelite metadata table '$other' (have: ${names.mkString(", ")})")
  }
}

/** The `.files` metadata table served FROM the external manifest documents:
  * input partitions carry manifest paths only, and each reader parses its
  * manifest on the executor — planning stays O(1) driver-side however many
  * files the snapshot holds (the round-4 shape shipped O(files) driver rows
  * as one partition).
  */
private[v2] case class IceLiteManifestPartition(manifestPath: String)
    extends InputPartition

private[v2] class IceLiteManifestFilesTable(
    tblName: String, schema0: StructType, manifestPaths: Seq[String])
    extends Table with SupportsRead {

  override def name(): String = tblName
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = schema0
      override def toBatch: Batch = this
      override def description(): String =
        s"icelite metadata $tblName (manifest-parallel)"
      override def planInputPartitions(): Array[InputPartition] =
        manifestPaths.map(IceLiteManifestPartition(_): InputPartition).toArray
      override def createReaderFactory(): PartitionReaderFactory =
        new IceLiteManifestReaderFactory(new SerializableConfiguration(
          SparkSession.active.sparkContext.hadoopConfiguration))
    }
}

/** Partition aggregation over a manifest's file list — pure path algebra:
  * a file's partition is its `name=value` directory segments (hidden-
  * partitioning's `__p_` alias stripped), so no schema or spec resolution
  * is needed and mixed-era layouts each report their own era's rendering.
  */
private[v2] object IceLitePartitions {

  def key(path: String): String =
    path.split('/').dropRight(1).filter(_.contains('='))
      .map(seg =>
        if (seg.startsWith(PartValues.DirAliasPrefix))
          seg.stripPrefix(PartValues.DirAliasPrefix)
        else seg)
      .mkString("/")

  def rows(files: Seq[graft.icelite.FileStat]): Seq[Array[Any]] =
    files.groupBy(f => key(f.path)).toSeq.sortBy(_._1).map { case (k, fs) =>
      Array[Any](k, fs.length.toLong, fs.map(_.rows).sum, fs.map(_.bytes).sum)
    }
}

/** `.partitions` over a committed snapshot: the driver ships the manifest
  * PATH; the one task parses it and emits the aggregated per-partition
  * rows (a snapshot has a single manifest document, so the task-local
  * aggregation is exact).
  */
private[v2] class IceLitePartitionsTable(
    tblName: String, schema0: StructType, manifestPaths: Seq[String])
    extends Table with SupportsRead {

  override def name(): String = tblName
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = schema0
      override def toBatch: Batch = this
      override def description(): String =
        s"icelite metadata $tblName (manifest-parallel)"
      override def planInputPartitions(): Array[InputPartition] =
        manifestPaths.map(IceLiteManifestPartition(_): InputPartition).toArray
      override def createReaderFactory(): PartitionReaderFactory =
        new PartitionReaderFactory {
          private val conf = new SerializableConfiguration(
            SparkSession.active.sparkContext.hadoopConfiguration)
          override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
            val mp = p.asInstanceOf[IceLiteManifestPartition]
            val path = new Path(mp.manifestPath)
            val pfs = IceFs.of(path, conf.value)
            val it = IceLitePartitions
              .rows(MetaIo.readManifestDoc(pfs, mp.manifestPath).files).iterator
            new PartitionReader[InternalRow] {
              private var cur: InternalRow = _
              override def next(): Boolean =
                it.hasNext && {
                  val r = it.next()
                  cur = new GenericInternalRow(Array[Any](
                    UTF8String.fromString(r(0).asInstanceOf[String]),
                    r(1), r(2), r(3)))
                  true
                }
              override def get(): InternalRow = cur
              override def close(): Unit = ()
            }
          }
        }
    }
}

/** Row algebra of `.all_files`: a snapshot's ADDED entries with stats from
  * its visible manifest; legacy snapshots whose manifest predates per-file
  * stats degrade to unknown rows (-1) rather than vanishing.
  */
private[v2] object IceLiteAllFiles {
  def rows(snapshotId: Long, addedPaths: Seq[String],
      visible: Seq[graft.icelite.FileStat]): Seq[Array[Any]] = {
    val added = addedPaths.map(graft.icelite.FileStats.normPath).toSet
    val entries = visible.filter(f =>
      added(graft.icelite.FileStats.normPath(f.path)))
    if (entries.nonEmpty || addedPaths.isEmpty)
      entries.map(f => Array[Any](snapshotId, f.path, f.rows, f.bytes))
    else addedPaths.map(p => Array[Any](snapshotId, p, -1L, 0L))
  }
}

/** `.all_files` served manifest-parallel: one partition per snapshot, the
  * task resolves that snapshot's manifest and emits its added entries.
  */
private[v2] case class IceLiteSnapManifestPartition(
    snapshotId: Long, manifestPath: String) extends InputPartition

private[v2] class IceLiteAllFilesTable(
    tblName: String, schema0: StructType, snaps: Seq[(Long, String)])
    extends Table with SupportsRead {

  override def name(): String = tblName
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = schema0
      override def toBatch: Batch = this
      override def description(): String =
        s"icelite metadata $tblName (manifest-parallel)"
      override def planInputPartitions(): Array[InputPartition] =
        snaps.map { case (id, mp) =>
          IceLiteSnapManifestPartition(id, mp): InputPartition }.toArray
      override def createReaderFactory(): PartitionReaderFactory =
        new PartitionReaderFactory {
          private val conf = new SerializableConfiguration(
            SparkSession.active.sparkContext.hadoopConfiguration)
          override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
            val mp = p.asInstanceOf[IceLiteSnapManifestPartition]
            val path = new Path(mp.manifestPath)
            val pfs = IceFs.of(path, conf.value)
            val doc = MetaIo.readManifestDoc(pfs, mp.manifestPath)
            val it = IceLiteAllFiles
              .rows(mp.snapshotId, doc.addedPaths, doc.files).iterator
            new PartitionReader[InternalRow] {
              private var cur: InternalRow = _
              override def next(): Boolean =
                it.hasNext && {
                  val r = it.next()
                  cur = new GenericInternalRow(Array[Any](
                    r(0), UTF8String.fromString(r(1).asInstanceOf[String]),
                    r(2), r(3)))
                  true
                }
              override def get(): InternalRow = cur
              override def close(): Unit = ()
            }
          }
        }
    }
}

/** Row algebra of `.all_entries`: one internal row per (snapshot, visible
  * file), status from the snapshot's own add list — shared by the
  * snapshot-parallel reader and the legacy inline path.
  */
private[v2] object IceLiteAllEntries {
  def row(snapshotId: Long, addedNorm: Set[String],
      f: graft.icelite.FileStat): Array[Any] = Array[Any](
    Long.box(snapshotId),
    Int.box(if (addedNorm(graft.icelite.FileStats.normPath(f.path))) 1 else 0),
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(f.path), Long.box(f.rows), Long.box(f.bytes))))
}

/** `.all_entries` served snapshot-parallel: one partition per snapshot,
  * the task resolves that snapshot's manifest (delta chains included) and
  * emits every visible entry with its status.
  */
private[v2] class IceLiteAllEntriesTable(
    tblName: String, schema0: StructType, snaps: Seq[(Long, String)])
    extends Table with SupportsRead {

  override def name(): String = tblName
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = schema0
      override def toBatch: Batch = this
      override def description(): String =
        s"icelite metadata $tblName (manifest-parallel)"
      override def planInputPartitions(): Array[InputPartition] =
        snaps.map { case (id, mp) =>
          IceLiteSnapManifestPartition(id, mp): InputPartition }.toArray
      override def createReaderFactory(): PartitionReaderFactory =
        new PartitionReaderFactory {
          private val conf = new SerializableConfiguration(
            SparkSession.active.sparkContext.hadoopConfiguration)
          override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
            val mp = p.asInstanceOf[IceLiteSnapManifestPartition]
            val path = new Path(mp.manifestPath)
            val pfs = IceFs.of(path, conf.value)
            val doc = MetaIo.readManifestDoc(pfs, mp.manifestPath)
            val added = doc.addedPaths
              .map(graft.icelite.FileStats.normPath).toSet
            val it = doc.files.iterator
            new PartitionReader[InternalRow] {
              private var cur: InternalRow = _
              override def next(): Boolean =
                it.hasNext && {
                  cur = new GenericInternalRow(
                    IceLiteAllEntries.row(mp.snapshotId, added, it.next()))
                  true
                }
              override def get(): InternalRow = cur
              override def close(): Unit = ()
            }
          }
        }
    }
}

/** `.position_deletes` served delete-file-parallel: one input partition
  * per outstanding position-delete file; the task reads its parquet
  * `(file_path, pos)` rows with the same stripped-predicate GroupReader
  * the scan's delete application uses.
  */
private[v2] case class IceLitePosDeletePartition(deleteFile: String)
    extends InputPartition

private[v2] class IceLitePosDeletesTable(
    tblName: String, schema0: StructType, deleteFiles: Seq[String])
    extends Table with SupportsRead {

  override def name(): String = tblName
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = schema0
      override def toBatch: Batch = this
      override def description(): String =
        s"icelite metadata $tblName (delete-file-parallel)"
      override def planInputPartitions(): Array[InputPartition] =
        deleteFiles.map(IceLitePosDeletePartition(_): InputPartition).toArray
      override def createReaderFactory(): PartitionReaderFactory =
        new PartitionReaderFactory {
          private val conf = new SerializableConfiguration(
            SparkSession.active.sparkContext.hadoopConfiguration)
          override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
            val df = p.asInstanceOf[IceLitePosDeletePartition].deleteFile
            val rd = org.apache.parquet.hadoop.ParquetReader.builder(
              new org.apache.parquet.hadoop.example.GroupReadSupport(),
              new Path(df)).withConf(conf.value).build()
            new PartitionReader[InternalRow] {
              private var cur: InternalRow = _
              override def next(): Boolean = {
                val g = rd.read()
                if (g == null) false
                else {
                  cur = new GenericInternalRow(Array[Any](
                    UTF8String.fromString(
                      g.getBinary("file_path", 0).toStringUsingUTF8),
                    g.getLong("pos", 0),
                    UTF8String.fromString(df)))
                  true
                }
              }
              override def get(): InternalRow = cur
              override def close(): Unit = rd.close()
            }
          }
        }
    }
}

private[v2] class IceLiteManifestReaderFactory(conf: SerializableConfiguration)
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val mp = p.asInstanceOf[IceLiteManifestPartition]
    val path = new Path(mp.manifestPath)
    val pfs = IceFs.of(path, conf.value)
    val it = MetaIo.readManifestDoc(pfs, mp.manifestPath).files.iterator
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        it.hasNext && {
          val f = it.next()
          cur = new GenericInternalRow(
            Array[Any](UTF8String.fromString(f.path), f.rows, f.bytes))
          true
        }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

private[v2] case class IceLiteMetaPartition(
    schemaJson: String, rows: Seq[Array[Any]]) extends InputPartition

private[v2] class IceLiteMetaTable(
    tblName: String, schema0: StructType, rows: Seq[Array[Any]])
    extends Table with SupportsRead {

  override def name(): String = tblName
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = schema0
      override def toBatch: Batch = this
      override def description(): String = s"icelite metadata $tblName"
      override def planInputPartitions(): Array[InputPartition] =
        Array(IceLiteMetaPartition(schema0.json, rows))
      override def createReaderFactory(): PartitionReaderFactory =
        new PartitionReaderFactory {
          override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
            val mp = p.asInstanceOf[IceLiteMetaPartition]
            val schema = DataType.fromJson(mp.schemaJson).asInstanceOf[StructType]
            val it = mp.rows.iterator
            new PartitionReader[InternalRow] {
              private var cur: InternalRow = _
              override def next(): Boolean =
                if (!it.hasNext) false
                else {
                  val vals: Array[Any] = it.next().zipWithIndex.map {
                    case (s: String, i)
                        if schema.fields(i).dataType == StringType =>
                      UTF8String.fromString(s)
                    case (v, _) => v
                  }
                  cur = new GenericInternalRow(vals)
                  true
                }
              override def get(): InternalRow = cur
              override def close(): Unit = ()
            }
          }
        }
    }
}

private[v2] object IceLiteScan {
  /** Name of the data-file metadata column (SupportsMetadataColumns). */
  val FileMetaCol = "_file"

  /** Name of the row-position metadata column: the row's absolute position
    * within its data file — with `_file`, the stable row id position
    * deletes key on (merge-on-read row-level SQL).
    */
  val PosMetaCol = "_pos"

  /** Changelog output columns (`option("changelog", "true")` streaming
    * source): the change kind ('insert' | 'delete') and the snapshot that
    * committed it — same shape as `IceTable.changelog` / the
    * `icelite_changes` TVF.
    */
  val ChangeTypeCol = "_change_type"
  val CommitSnapCol = "_commit_snapshot_id"

  /** One partition-spec entry as a Spark connector `Transform` — the shape
    * `Table.partitioning()` and the scan's `KeyGroupedPartitioning` report.
    * Spark resolves the named transforms back through this catalog's own
    * FunctionCatalog (bucket/days/... at the root namespace), so both sides
    * of a join bind the SAME function identity — the precondition for
    * storage-partitioned joins.
    */
  def v2Transform(entry: String): Transform = {
    import org.apache.spark.sql.connector.expressions.{Expressions => E}
    graft.icelite.PartField.parse(entry) match {
      case graft.icelite.IdentityField(c) => E.identity(c)
      case graft.icelite.BucketField(n, c) => E.bucket(n, c)
      case graft.icelite.DaysField(c) => E.days(c)
      case graft.icelite.MonthsField(c) => E.months(c)
      case graft.icelite.YearsField(c) => E.years(c)
      case graft.icelite.HoursField(c) => E.hours(c)
      case graft.icelite.TruncateField(w, c) =>
        E.apply("truncate", E.literal(w), E.column(c))
    }
  }
}

private[v2] class IceLiteScan(
    warehouse: String, ns: String, tbl: String,
    tableSchema: StructType, partitionBy: Seq[String],
    required: StructType, files: Seq[FileStat], filters: Array[Filter],
    limit: Int, rowLevel: Option[RowLevelPlanHook] = None,
    wantsFileCol: Boolean = false, wantsPosCol: Boolean = false,
    streamMaxFiles: Option[Int] = None,
    renames: Seq[graft.icelite.ColumnRename] = Nil,
    widened: Seq[String] = Nil,
    // partition-evolution ledger: which hive layout each file ERA used
    specs: Seq[graft.icelite.PartSpecChange] = Nil,
    // outstanding position-delete files (merge-on-read): attached per
    // affected input partition; their rows are subtracted at read
    deletes: Seq[graft.icelite.DeleteStat] = Nil,
    // declared (write-enforced) table sort order
    sortOrder: Seq[String] = Nil,
    // streaming CDC changelog relation — micro-batch only
    changelogMode: Boolean = false,
    // streaming start offset (fresh checkpoints begin here)
    streamFrom: Option[Long] = None,
    // stream-planning filters (StreamScanPruning) — per-batch file pruning
    streamFilters: Seq[Filter] = Nil,
    // byte-based streaming admission cap (`maxBytesPerTrigger`)
    streamMaxBytes: Option[Long] = None,
    // column-addition ledger (manifest NDV column statistics)
    addedColumns: Seq[graft.icelite.ColumnAdd] = Nil)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning
    with SupportsReportOrdering with HasPlannedFiles {

  import graft.icelite.PartField

  private def tableName: String = s"$ns.$tbl"

  // only IDENTITY spec entries bind column values from directories;
  // transform entries (bucket/days/truncate) are layout + pruning only —
  // their SOURCE columns are ordinary data columns in every file
  private val identityBy = PartField.identityCols(partitionBy)

  /** The partition spec the file was written under (recorded era first:
    * imported files carry their era on the manifest entry, not the path).
    */
  private def specOf(f: FileStat): Seq[String] =
    PartField.specFor(f, partitionBy, specs)

  /** Dynamic partition pruning: joins on a partition column hand the
    * joined key set to the scan at execution time as an In filter, and
    * whole partitions drop out of `planInputPartitions` before any IO —
    * the v2 equivalent of DPP on a hive layout, which is what makes
    * fact-times-dim joins affordable when the fact is 100 TB and the dim
    * filter keeps three partitions.
    */
  private var runtimeFilters: Array[Filter] = Array.empty

  // bloom-carrying DATA columns participate in runtime filtering: a
  // broadcast join's build-side key set arrives as a runtime In(c, keys)
  // and the prune's bloom probe drops every fact file provably holding
  // none of the keys — runtime file skipping on ANY opted-in join key,
  // not just the partition layout. Memoized: filterAttributes can be
  // consulted more than once per plan and the sweep is O(files).
  private lazy val bloomedCols: Set[String] = files.iterator
    .filter(f => FileStats.bloomMarkerKnown(
      f.bloom.get(FileStats.BloomVersionKey)))
    .flatMap(_.bloom.keysIterator).toSet - FileStats.BloomVersionKey

  // Known-benign log noise: when AQE plans a join against this scan and
  // decides a dynamic-pruning subquery is not worth reusing, it replaces
  // the pruning expression with Literal(true), and translating that fires
  // "DataSourceV2Strategy: Can't translate true to source filter" once per
  // such join (seen on the x53/x62 broadcast-probe joins). Inherent to
  // advertising SupportsRuntimeFiltering under AQE — Iceberg's own Spark
  // scan logs the same line — and harmless: the statically pushed filters
  // already planned the file set. Do NOT chase it back to the engine's own
  // pushdown: a true filter from OUR code was a bug (fixed round 18,
  // IceTable eq-delete join conditions) and would show up in `filter()`,
  // not here.
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // row-level scans must plan a DETERMINISTIC file set: a runtime filter
    // could prune a file after it was recorded for replacement, and its
    // unread rows would vanish from the rewrite. SOURCE columns of
    // transform entries participate too: a runtime In(src, keys) prunes
    // through bucket/days/truncate via TransformPrune.
    if (rowLevel.isDefined) return Array.empty
    val partSrcs = PartField.sources(partitionBy).distinct
      .filter(tableSchema.fieldNames.contains)
    // advertising a bloomed column costs nothing when no filter comes;
    // when one does, canMatch's min/max + bloom path handles it (budgeted
    // — see budgetRuntime)
    val bloomed = tableSchema.fieldNames.filter(c =>
      !partSrcs.contains(c) && bloomedCols.contains(c))
    (partSrcs ++ bloomed)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column).toArray
  }

  /** Runtime filters whose re-prune cost fits the probe budget.
    *
    * A runtime `In(c, keys)` re-prunes at up to |keys| x |files| range +
    * bloom probes — all driver-side, single-threaded, at execution start,
    * before the first task launches. On the static path that cost is the
    * user's own predicate; on the runtime path it arrives unasked from any
    * broadcast join, and at 10^5 files x 10^5 build-side keys it is 10^10
    * probes thrashing the 256-entry decoded-bloom LRU. Pruning is an
    * optimization, never a correctness requirement, so an over-budget
    * filter is simply DROPPED from the re-prune (per filter — a cheap DPP
    * partition filter still applies next to an over-budget join-key one)
    * and the statically planned set stands. Budget shared with the upsert
    * candidate screen: `graft.prune.probeBudget`, default 50M probes.
    * Non-In runtime shapes (Spark sends only In today) pass through: their
    * evaluation is one probe per file.
    */
  private def budgetRuntime(fs: Array[Filter]): Array[Filter] = {
    if (fs.isEmpty) return fs
    val budget = scala.util.Try(SparkSession.active.conf
      .get("graft.prune.probeBudget", "50000000").toLong)
      .getOrElse(50L * 1000 * 1000)
    val nFiles = files.size.toLong
    fs.filter {
      case In(_, vs) =>
        vs == null || vs.length.toLong * nFiles <= budget
      case _ => true
    }
  }

  override def filter(fs: Array[Filter]): Unit = { runtimeFilters = fs }

  // the columnar batch is laid out data-columns-then-constant-columns
  // (initBatch appends the constant vectors at the end: hive-partition
  // values, then the _file metadata column when requested), so readSchema
  // must present the same order
  private val partSchema = StructType(
    tableSchema.fields.filter(f =>
      identityBy.contains(f.name) && required.fieldNames.contains(f.name)) ++
      (if (wantsFileCol)
        Seq(StructField(IceLiteScan.FileMetaCol, StringType, nullable = false))
      else Nil))
  private val dataSchema = StructType(
    required.fields.filterNot(f => identityBy.contains(f.name)))

  // `_pos` (absolute row position) is appended LAST by the row reader —
  // after data columns, constants, and any evolution-era permutation
  private val posField: Seq[StructField] =
    if (wantsPosCol)
      Seq(StructField(IceLiteScan.PosMetaCol, LongType, nullable = false))
    else Nil

  override def readSchema(): StructType =
    StructType(dataSchema ++ partSchema ++ posField)
  override def toBatch: Batch = this

  /** Files that survive manifest-stat + partition-value pruning under the
    * given filter set, with the raw partition values parsed from their
    * paths. Per-file admission is [[PruneEval.admit]] — one predicate for
    * both execution strategies below.
    *
    * Driver-side by default (SURVEY §6's metadata envelope: the FileStat
    * list is driver-resident anyway, and at fixture file counts a Spark
    * job costs more in scheduling than it saves). Past
    * `graft.prune.distributedThreshold` files (0 = off, the default) the
    * admission loop runs as a Spark job instead: per-file bloom decodes +
    * probes are the expensive part at 10^6 files x many-key runtime
    * filters, and they parallelize embarrassingly. Input order is
    * preserved, so every downstream consumer (SPJ keys, split packing,
    * row-level replace sets) sees the exact driver-side sequence.
    */
  private def prune(fs: Seq[Filter]): Seq[(FileStat, Map[String, Option[String]])] = {
    val active = org.apache.spark.sql.SparkSession.getActiveSession
    val threshold = active
      .flatMap(sp => scala.util.Try(
        sp.conf.get("graft.prune.distributedThreshold", "0").toInt).toOption)
      .getOrElse(0)
    if (threshold > 0 && files.length >= threshold && active.isDefined) {
      PruneEval.distributedRuns.incrementAndGet()
      val sc = active.get.sparkContext
      // locals only in the closure: the Scan itself is not serializable
      val (schema, pBy, sps, filts) = (tableSchema, partitionBy, specs, fs)
      val slices = math.min(files.length,
        math.max(sc.defaultParallelism, 1) * 2)
      sc.parallelize(files.zipWithIndex, slices)
        .flatMap { case (f, i) =>
          PruneEval.admit(f, filts, schema, pBy, sps).map(r => (i, r)) }
        .collect()
        .sortBy(_._1)
        .map(_._2)
        .toSeq
    } else
      files.flatMap(f => PruneEval.admit(f, fs, tableSchema, partitionBy, specs))
  }

  // static pruning only — description/statistics are plan-time artifacts;
  // runtime filters re-prune in planInputPartitions
  private lazy val planned: Seq[(FileStat, Map[String, Option[String]])] =
    prune(filters.toSeq)

  /** Diagnostic: data-file paths surviving STATIC pruning (pushed filters
    * + partition values + manifest stats; runtime filters excluded). The
    * observation channel for pruning assertions — `df.inputFiles` is
    * file-source-only and returns empty for DSv2 relations.
    */
  override def plannedFilePaths: Seq[String] = planned.map(_._1.path)

  // ---- storage-partitioned joins ------------------------------------------
  // The layout IS a clustering: every file carries one partition-key tuple
  // in its directory values, so the scan reports a KeyGroupedPartitioning
  // over the spec's transforms and Spark (under
  // spark.sql.sources.v2.bucketing.enabled) co-locates equi-joins of
  // co-partitioned tables with ZERO shuffle — at 100 TB, two fact tables
  // bucketed the same way join without moving either side. Reported only
  // when every planned file was written under the CURRENT spec (mixed-era
  // layouts have no single clustering) and every file's key decodes from
  // its path; row-level scans opt out (their contract is a deterministic
  // replace set, not a join layout).

  private lazy val spjFields: Seq[PartField] =
    if (partitionBy.isEmpty || rowLevel.isDefined) Nil
    else {
      val fs = PartField.parseSpec(partitionBy)
      val uniform = specs.isEmpty ||
        planned.forall { case (f, _) => specOf(f) == partitionBy }
      if (uniform && fs.forall(f => tableSchema.fieldNames.contains(f.source))) fs
      else Nil
    }

  /** Key-tuple schema: each entry's transform RESULT type — the type the
    * bound V2 function declares, which is what catalyst's
    * TransformExpression (and so the partition-value comparisons) carry.
    */
  private lazy val spjKeySchema: StructType = StructType(spjFields.map {
    case f: graft.icelite.IdentityField =>
      StructField(f.fieldName, tableSchema(f.source).dataType)
    case f: graft.icelite.TruncateField =>
      StructField(f.fieldName, tableSchema(f.source).dataType)
    case f => StructField(f.fieldName, IntegerType) // bucket + temporal
  })

  private def spjKeyOf(f: graft.icelite.FileStat): Option[Seq[Any]] = {
    val names = spjFields.map(_.fieldName)
    // recorded-era (imported) entries bind from the manifest entry; for a
    // spec with transform fields the recorded map never carries them
    // (imports refuse transform segments), so such files yield None and
    // SPJ reporting stays off — never a fabricated clustering
    val raw = f.partRaw(names)
    if (names.exists(n => !raw.contains(n))) None
    else
      try {
        val row = PartValues.internalRow(spjKeySchema, raw)
        Some(spjKeySchema.indices.map(i =>
          if (row.isNullAt(i)) null else row.get(i, spjKeySchema(i).dataType)))
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  // static key per planned file; None disables reporting entirely — the
  // scan must not promise a clustering it cannot prove for every file
  private lazy val spjKeys: Option[Map[String, Seq[Any]]] =
    if (spjFields.isEmpty) None
    else {
      val ks = planned.map { case (f, _) => f.path -> spjKeyOf(f) }
      if (ks.isEmpty || ks.exists(_._2.isEmpty)) None
      else Some(ks.map { case (p, k) => p -> k.get }.toMap)
    }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjKeys match {
      case Some(ks) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          partitionBy.map(IceLiteScan.v2Transform)
            .toArray[org.apache.spark.sql.connector.expressions.Expression],
          ks.values.toSeq.distinct.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
          planned.size)
    }

  /** The declared sort order, reported as each split's row order so
    * downstream sort-merge joins and sorted aggregations skip their sorts
    * (with SPJ this completes the zero-shuffle zero-sort join). Sound
    * because every write path ENFORCES the declaration (writeData /
    * IceLiteWriteShape), MOR deletes only drop rows (order-preserving),
    * renames carry the declaration with them, and a dropped sort column
    * truncates it to the still-valid prefix. Reported as the
    * longest prefix the projection retains; suppressed when key-grouping
    * could CONCATENATE multiple files of one partition value into a
    * single split, whose rows would then interleave sorted runs.
    */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    if (sortOrder.isEmpty) return Array.empty
    val usable = sortOrder.takeWhile(required.fieldNames.contains)
    val groupingSafe = spjKeys match {
      case Some(ks) => ks.groupBy(_._2).forall(_._2.size <= 1)
      case None => true
    }
    if (usable.isEmpty || !groupingSafe) Array.empty
    else {
      import org.apache.spark.sql.connector.expressions.{Expressions => E, SortDirection}
      usable.map(c => E.sort(E.column(c), SortDirection.ASCENDING)).toArray
    }
  }

  override def description(): String =
    s"icelite $tableName files=${files.size} planned=${planned.size} " +
      s"readSchema=${readSchema().fieldNames.mkString(",")} " +
      s"pushedFilters=[${filters.mkString(", ")}] limit=$limit"

  override def planInputPartitions(): Array[InputPartition] = {
    require(!changelogMode,
      s"changelog reads of $tableName are streaming-only " +
        "(readStream; batch consumers use the icelite_changes TVF)")
    val budgetedRuntime = budgetRuntime(runtimeFilters)
    val effective =
      if (budgetedRuntime.isEmpty) planned
      else prune((filters ++ budgetedRuntime).toSeq)
    // a row-level operation replaces exactly the files its scan planned
    rowLevel.foreach(_.recordPlanned(effective.map(_._1)))
    effective.map { case (f, raw) =>
      val constants =
        if (wantsFileCol) raw + (IceLiteScan.FileMetaCol -> Some(f.path))
        else raw
      // position-delete files naming this data file (manifest paths match
      // by construction: both sides are fs-qualified), and equality deletes
      // whose era scope + key bounds reach it
      val delFor =
        if (deletes.isEmpty) Nil
        else deletes.filter(_.dataFiles.contains(f.path)).map(_.path)
      val eqFor =
        if (deletes.isEmpty) Nil
        else deletes.filter(d =>
          graft.icelite.FileStats.eqAppliesTo(d, f, tableSchema))
      val spec = specOf(f)
      // the file's OWN data/constant column split: the current spec's
      // global split in the common case, its own era's under partition
      // evolution (a permutation then maps the local layout onto the
      // scan's global serving order)
      val (fileData0, filePart, evolved) =
        if (spec == partitionBy) (dataSchema, partSchema, false)
        else {
          val idOfSpec = PartField.identityCols(spec)
          val fp = StructType(
            tableSchema.fields.filter(fd =>
              idOfSpec.contains(fd.name) && required.fieldNames.contains(fd.name)) ++
              (if (wantsFileCol)
                Seq(StructField(IceLiteScan.FileMetaCol, StringType, nullable = false))
              else Nil))
          val fd = StructType(
            required.fields.filterNot(fd => idOfSpec.contains(fd.name)))
          (fd, fp, true)
        }
      // equality deletes probe by key VALUE, so key columns the projection
      // pruned away are re-added to the file's local read schema; the
      // permutation below keeps them out of the served row
      val missingKeys = eqFor.flatMap(_.eqCols).distinct
        .filterNot(fileData0.fieldNames.contains)
        .filterNot(filePart.fieldNames.contains)
      val fileData =
        if (missingKeys.isEmpty) fileData0
        else StructType(fileData0.fields ++ missingKeys.map(tableSchema(_)))
      val eqTasks = eqFor.map { d =>
        val keyIdx = d.eqCols.map(c => fileData.fieldNames.indexOf(c))
        require(keyIdx.forall(_ >= 0),
          s"equality-delete key columns ${d.eqCols.mkString(",")} missing " +
            s"from the local read schema of ${f.path}")
        EqDeleteTask(d.path,
          StructType(d.eqCols.map(c => tableSchema(c))).json, keyIdx)
      }
      val phys = graft.icelite.Renames.physicalNames(
        renames, fileData, f.eraOrPath)
      // runtime filters only shrink the planned set, so every effective
      // file has a precomputed key when reporting is on
      val key = spjKeys.map(_(f.path)).getOrElse(Nil)
      if (!evolved && missingKeys.isEmpty)
        IceLiteInputPartition(f.path, f.bytes, constants,
          phys.getOrElse(Nil), deleteFiles = delFor,
          eqDeletes = eqTasks, partKey = key): InputPartition
      else {
        val localNames = fileData.fieldNames ++ filePart.fieldNames
        val globalNames = dataSchema.fieldNames ++ partSchema.fieldNames
        val perm = globalNames.map(n => localNames.indexOf(n)).toSeq
        require(perm.forall(_ >= 0),
          s"partition-evolution layout mismatch for ${f.path}: " +
            s"global [${globalNames.mkString(",")}] vs local [${localNames.mkString(",")}]")
        IceLiteInputPartition(f.path, f.bytes, constants,
          phys.getOrElse(Nil),
          fileDataSchemaJson = fileData.json,
          filePartSchemaJson = filePart.json,
          filePerm = perm, deleteFiles = delFor,
          eqDeletes = eqTasks, partKey = key): InputPartition
      }
    }.toArray
  }

  /** Decode one manifest min/max stat string to the column's CATALYST
    * value (what `ColumnStat.min/max` carries — FilterEstimation compares
    * these against literal bounds). Strings/booleans are skipped: CBO's
    * range estimation is numeric, and a mistyped object would poison it.
    * Stat encoding per [[graft.icelite.FileStats]]: dates as epoch days,
    * timestamps as micros, floats widened exactly to double strings.
    */
  private def decodeStat(dt: DataType, s: String): Option[Any] = dt match {
    case LongType => s.toLongOption
    case IntegerType => s.toLongOption.map(_.toInt)
    case DateType => s.toLongOption.map(_.toInt)
    case TimestampType | TimestampNTZType => s.toLongOption
    case DoubleType => s.toDoubleOption
    case FloatType => s.toDoubleOption.map(_.toFloat)
    // dot-less under scale>0 = legacy UNSCALED stat (pre-scaled-encoder
    // manifests; see FilePrune.parseStat) — refuse rather than feed CBO a
    // bound inflated by 10^scale
    case d: DecimalType =>
      if (d.scale > 0 && !s.contains('.')) None
      else scala.util.Try(org.apache.spark.sql.types.Decimal(
        BigDecimal(new java.math.BigDecimal(s)), d.precision, d.scale)).toOption
    case _ => None
  }

  /** CBO column statistics, manifest-only (zero data IO): distinct counts
    * union the per-file HLL NDV sketches, null counts sum the footer
    * stats, min/max fold the per-file bounds — each independently absent
    * when any planned file cannot prove it (era-aware: renamed columns
    * resolve per-file physical names; pre-ADD-COLUMN files contribute
    * zero distincts / all-null / no bounds). Computed over the PLANNED
    * (statically pruned) file set, so a partition-pruned scan reports the
    * surviving slice's statistics, and only when CBO is on — without it
    * Spark ignores attribute stats and the per-column walk would be pure
    * planning overhead.
    */
  private lazy val v2ColumnStats
      : java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    val out = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference, ColumnStatistics]()
    val pfiles = planned.map(_._1)
    required.fields.filter(f => tableSchema.fieldNames.contains(f.name)).foreach { f =>
      val ndvEst = graft.icelite.Ndv.estimate(
        renames, addedColumns, tableSchema, pfiles, f.name)
      val nulls = graft.icelite.Ndv.nullCount(renames, addedColumns, pfiles, f.name)
      val bounds: Option[(Any, Any)] = {
        val perFile = pfiles.map { df =>
          val era = df.eraOrPath
          val phys = graft.icelite.Renames.physicalName(renames, f.name, era)
          val preAdd = addedColumns.exists(a =>
            a.cutoffSnapshotId >= era && (a.name == phys || a.name == f.name))
          if (preAdd) Some(None) // no values: contributes no bounds
          else for {
            lo <- df.min.get(phys).flatMap(decodeStat(f.dataType, _))
            hi <- df.max.get(phys).flatMap(decodeStat(f.dataType, _))
          } yield Some((lo, hi))
        }
        if (perFile.exists(_.isEmpty)) None // some file lacks the stat
        else {
          val vs = perFile.flatten.flatten
          if (vs.isEmpty) None
          else {
            // per-TYPE ordering: a lossy doubleValue fold would collapse
            // longs beyond 2^53 to equal doubles and report a wrong bound
            implicit val ord: Ordering[Any] = (a: Any, b: Any) => f.dataType match {
              case LongType | TimestampType | TimestampNTZType =>
                java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
              case IntegerType | DateType =>
                Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
              case FloatType =>
                java.lang.Float.compare(a.asInstanceOf[Float], b.asInstanceOf[Float])
              case _: DecimalType =>
                a.asInstanceOf[org.apache.spark.sql.types.Decimal]
                  .compare(b.asInstanceOf[org.apache.spark.sql.types.Decimal])
              case _ =>
                java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
            }
            Some((vs.map(_._1).min, vs.map(_._2).max))
          }
        }
      }
      if (ndvEst.isDefined || nulls.isDefined || bounds.isDefined)
        out.put(
          org.apache.spark.sql.connector.expressions.Expressions.column(f.name),
          new ColumnStatistics {
            override def distinctCount(): OptionalLong = ndvEst
              .map(d => OptionalLong.of(math.max(0L, math.round(d))))
              .getOrElse(OptionalLong.empty())
            override def nullCount(): OptionalLong =
              nulls.map(OptionalLong.of).getOrElse(OptionalLong.empty())
            override def min(): java.util.Optional[Object] = bounds
              .map(b => java.util.Optional.of(b._1.asInstanceOf[Object]))
              .getOrElse(java.util.Optional.empty[Object]())
            override def max(): java.util.Optional[Object] = bounds
              .map(b => java.util.Optional.of(b._2.asInstanceOf[Object]))
              .getOrElse(java.util.Optional.empty[Object]())
          })
    }
    out
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(planned.map(_._1.bytes).sum)
    override def numRows(): OptionalLong =
      if (planned.exists(_._1.rows < 0)) OptionalLong.empty()
      else OptionalLong.of(planned.map(_._1.rows).sum)
    override def columnStats()
        : java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      if (org.apache.spark.sql.internal.SQLConf.get.cboEnabled) v2ColumnStats
      else java.util.Collections.emptyMap()
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // row-level scans must return every row of the files they plan: a
    // parquet row-group predicate would silently drop rows from the
    // rewrite, so filters reach parquet only on plain reads. Columns ever
    // touched by a rename are excluded too: old files carry the other
    // name, and parquet-mr fails the whole read over a predicate on a
    // column missing from the file schema.
    // ... and columns ever type-WIDENED are excluded for the same reason a
    // predicate typed at the widened type (e.g. INT64) is rejected by
    // parquet-mr's schema validator against files that physically carry the
    // narrower type (e.g. INT32) written before the ALTER.
    // ... and any column that was an IDENTITY partition column in ANY era:
    // files from those eras keep it in directory names only, and a parquet
    // predicate on a column absent from the file schema fails the whole
    // read. Transform SOURCES are exempt — they are stored in data in
    // every era that used the transform.
    val touched = graft.icelite.Renames.touchedNames(renames) ++ widened ++
      (if (specs.isEmpty) Nil
      else identityBy ++ specs.flatMap(s => PartField.identityCols(s.cols)))
    val rgFilters =
      if (rowLevel.isDefined) Array.empty[Filter]
      else filters.filter(_.references.forall(r => !touched.contains(r)))
    // a delete touching any STATICALLY planned file flips the WHOLE scan
    // to row-based reads (Spark refuses mixed row/columnar partitions
    // within one scan); runtime filters only shrink the planned set, so
    // the decision is stable. A scan that prunes every affected file away
    // — and any scan after compact()/rewriteDeletes() — stays columnar.
    // Equality deletes count too: a file is affected when its era precedes
    // the delete's sequence and its key-bound stats overlap.
    val rowMode = wantsPosCol || (deletes.nonEmpty &&
      planned.exists { case (f, _) => deletes.exists(d =>
        d.dataFiles.contains(f.path) ||
          graft.icelite.FileStats.eqAppliesTo(d, f, tableSchema)) })
    IceLiteV2.readerFactory(dataSchema, partSchema, rgFilters, limit,
      rowMode = rowMode, posCol = wantsPosCol)
  }

  /** The micro-batch face of the same table: offsets are snapshot ids and
    * each batch reads exactly the files ADDED by its snapshot range —
    * streaming-tailing the append log (the read twin of the foreachBatch
    * snapshot sink, st4). Spark's streaming planner doesn't run DSv2
    * pushdown, so `tableSchema` here is the full declared schema UNLESS
    * [[StreamScanPruning]] narrowed the table at analysis time — column
    * pruning for streams happens there, not via `pruneColumns`.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    if (changelogMode)
      new IceLiteChangelogStream(warehouse, ns, tbl, tableSchema, partitionBy,
        streamMaxFiles, streamFrom.getOrElse(0L), streamFilters, streamMaxBytes)
    else
      new IceLiteMicroBatchStream(warehouse, ns, tbl, tableSchema, partitionBy,
        streamMaxFiles, specs, streamFrom.getOrElse(0L), streamFilters,
        streamMaxBytes)
}

/** Snapshot-id offsets for the streaming read. */
private[v2] case class IceOffset(snapshotId: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = snapshotId.toString
}

/** Micro-batch tail of an IceLite table's append log. Each trigger advances
  * the offset to the current snapshot id and reads the addedFiles manifests
  * of the in-range snapshots — planning cost tracks change volume, never
  * table size, and a non-append snapshot in range fails loudly (same
  * contract as the batch incremental scan). Exactly-once delivery comes
  * from Spark's offset log: a batch replays identically because snapshot
  * ranges are immutable.
  */
private[v2] class IceLiteMicroBatchStream(
    warehouse: String, ns: String, tbl: String,
    tableSchema: StructType, partitionBy: Seq[String],
    maxFilesPerTrigger: Option[Int] = None,
    specs: Seq[graft.icelite.PartSpecChange] = Nil,
    // `fromSnapshotId` read option: a FRESH checkpoint starts the tail at
    // this snapshot (exclusive) instead of replaying full history — the
    // bound a CDC consumer uses on first attach. Restarted checkpoints
    // resume from their own committed offsets regardless.
    startSnapshotId: Long = 0L,
    // filters pushed by StreamScanPruning: each batch's added files prune
    // against partition values + manifest stats BEFORE any IO. Purely
    // conservative — the plan's own Filter still runs — so a partitioned
    // stream consumer pays only for the partitions it watches.
    pushedFilters: Seq[Filter] = Nil,
    // byte-based admission cap (`maxBytesPerTrigger`)
    maxBytesPerTrigger: Option[Long] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReadMaxFiles}

  protected def currentMeta = IceLiteV2.loadMeta(warehouse, ns, tbl)._1

  // Trigger.AvailableNow: Spark's fallback wrapper for sources without
  // native support IGNORES ReadLimit (it jumps straight to the offset
  // captured up front), which would defeat admission control exactly when
  // it matters most — draining a populated table. Implementing the
  // interface ourselves keeps per-batch caps in force: capture the end
  // here, then latestOffset() walks toward it in capped steps.
  protected var availableNowEnd: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(currentMeta.currentSnapshotId)

  override def initialOffset(): Offset = IceOffset(startSnapshotId)
  override def latestOffset(): Offset = IceOffset(currentMeta.currentSnapshotId)
  override def deserializeOffset(json: String): Offset = IceOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** Admission control: without it, a stream started against a populated
    * table would plan the ENTIRE history as one first micro-batch — the
    * `maxFilesPerTrigger` / `maxBytesPerTrigger` options cap each batch's
    * data-file count / byte volume instead, so history drains in bounded
    * batches (offsets are snapshot ids, so caps round to whole snapshots
    * and always admit at least one so the stream progresses). Byte caps
    * are the robust form under skewed file sizes — a file-count cap
    * admits 10 files whether they are 1 MB or 1 GB each.
    */
  override def getDefaultReadLimit: ReadLimit =
    (maxFilesPerTrigger, maxBytesPerTrigger) match {
      case (Some(f), Some(b)) =>
        ReadLimit.compositeLimit(Array(ReadLimit.maxFiles(f), ReadLimit.maxBytes(b)))
      case (Some(f), None) => ReadLimit.maxFiles(f)
      case (None, Some(b)) => ReadLimit.maxBytes(b)
      case _ => ReadLimit.allAvailable()
    }

  /** One metadata load serving both the snapshot log and the FileSystem
    * handle — latestOffset runs per trigger, so loading twice doubles
    * version-hint + v*.json reads on the streaming hot path.
    */
  protected def currentMetaFs: (graft.icelite.TableMeta,
      org.apache.hadoop.fs.FileSystem) = IceLiteV2.loadMeta(warehouse, ns, tbl)

  /** The (file, byte) caps a ReadLimit carries, composite-flattened. The
    * ONE decoder both this stream and the changelog subclass use — a new
    * limit kind handled here reaches both, so they cannot diverge again
    * (round 8: the subclass pattern-matched ReadMaxFiles only and a byte
    * cap silently fell through to admit-everything).
    */
  protected def readCaps(limit: ReadLimit): (Option[Int], Option[Long]) = {
    import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadMaxBytes}
    def flatten(l: ReadLimit): Seq[ReadLimit] = l match {
      case c: CompositeReadLimit => c.getReadLimits.toSeq.flatMap(flatten)
      case other => Seq(other)
    }
    val limits = flatten(limit)
    (limits.collectFirst { case mf: ReadMaxFiles => mf.maxFiles() },
      limits.collectFirst { case mb: ReadMaxBytes => mb.maxBytes() })
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[IceOffset].snapshotId
    val (m, fsys) = currentMetaFs
    val head = availableNowEnd.getOrElse(m.currentSnapshotId)
    val (maxF, maxB) = readCaps(limit)
    if (maxF.isEmpty && maxB.isEmpty) return IceOffset(head)
    val pending = m.snapshots
      .filter(s => s.snapshotId > from && s.snapshotId <= head)
      .sortBy(_.snapshotId)
    var to = from
    var usedF = 0L
    var usedB = 0L
    var admitted = 0
    val it = pending.iterator
    var open = true
    while (open && it.hasNext) {
      val s = it.next()
      val n = graft.icelite.FileStats.addedCount(s)
      // Under a byte cap: O(1) from the commit-time inline byte count on
      // current metadata (only pre-upgrade snapshots fall back to their
      // cached manifest), and the loop breaks at the first non-fitting
      // snapshot — so per-trigger cost tracks the admitted window, not
      // the pending backlog.
      val b = if (maxB.isDefined) graft.icelite.FileStats.addedBytes(fsys, s) else 0L
      val fits = maxF.forall(usedF + n <= _) && maxB.forall(usedB + b <= _)
      if (admitted == 0 || fits) {
        to = s.snapshotId; usedF += n; usedB += b; admitted += 1
      } else open = false // offsets must stay a contiguous snapshot range
    }
    IceOffset(to)
  }

  /** True head of the table, independent of the admitted cap — keeps
    * streaming progress metrics honest about backlog.
    */
  override def reportLatestOffset(): Offset = IceOffset(currentMeta.currentSnapshotId)

  /** Conservative pushed-filter admissibility of one file under `spec`:
    * partition values (identity + transforms) and manifest stats. The ONE
    * predicate behind both the plain stream's insert pruning and the
    * changelog stream's two-sided pruning — keep them from diverging.
    */
  protected def fileCanMatchWith(f: graft.icelite.FileStat,
      spec: Seq[String]): Boolean =
    pushedFilters.isEmpty || {
      val idCols = graft.icelite.PartField.identityCols(spec)
      val pv = PartValues.decodeExternal(tableSchema, idCols, f.partRaw(idCols))
      val tFields = graft.icelite.PartField.parseSpec(spec)
        .filterNot(_.isIdentity)
      val tRaw =
        if (tFields.isEmpty) Map.empty[String, Option[String]]
        else f.partRaw(tFields.map(_.fieldName))
      pushedFilters.forall(fl =>
        FilePrune.canMatch(fl, tableSchema, f, pv) &&
          (tFields.isEmpty ||
            graft.icelite.TransformPrune.canMatch(fl, tableSchema, tFields, tRaw)))
    }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[IceOffset].snapshotId
    val to = end.asInstanceOf[IceOffset].snapshotId
    val (m, fs) = IceLiteV2.loadMeta(warehouse, ns, tbl)
    // if expireSnapshots removed part of (from, to] while the stream was
    // down, rows would silently vanish from the 'exactly-once' stream —
    // fail loudly instead (the operator must reset the checkpoint)
    graft.icelite.FileStats.requireHistory(m, from,
      s"streaming read of $ns.$tbl (reset the checkpoint)")
    val identityBy = graft.icelite.PartField.identityCols(partitionBy)
    val dataSchema = StructType(
      tableSchema.fields.filterNot(f => identityBy.contains(f.name)))
    val partSchema = StructType(
      tableSchema.fields.filter(f => identityBy.contains(f.name)))
    def specOf(f: graft.icelite.FileStat): Seq[String] =
      graft.icelite.PartField.specFor(f, partitionBy, specs)
    graft.icelite.FileStats.addedInRange(fs, m, from, to, s"streaming read of $ns.$tbl")
      .filter(f => fileCanMatchWith(f, specOf(f)))
      .map { f =>
        val spec = specOf(f)
        if (spec == partitionBy)
          IceLiteInputPartition(f.path, f.bytes,
            f.partRaw(identityBy),
            graft.icelite.Renames.physicalNames(m.renames, dataSchema,
              f.eraOrPath).getOrElse(Nil)): InputPartition
        else {
          // partition evolution mid-stream: same per-file split as the
          // batch scan — this file's spec decides dirs-vs-data, and the
          // permutation restores the GLOBAL (data ++ part) layout the
          // factory's declared-order permutation then maps to table order
          val idOfSpec = graft.icelite.PartField.identityCols(spec)
          val filePart = StructType(
            tableSchema.fields.filter(fd => idOfSpec.contains(fd.name)))
          val fileData = StructType(
            tableSchema.fields.filterNot(fd => idOfSpec.contains(fd.name)))
          val localNames = fileData.fieldNames ++ filePart.fieldNames
          val globalNames = dataSchema.fieldNames ++ partSchema.fieldNames
          // compose: local -> global physical -> declared is handled by
          // giving the per-file perm DIRECTLY in declared (tableSchema)
          // order, overriding the factory's global permutation
          val perm = tableSchema.fieldNames.map(n => localNames.indexOf(n)).toSeq
          require(perm.forall(_ >= 0),
            s"partition-evolution layout mismatch for ${f.path}")
          IceLiteInputPartition(f.path, f.bytes,
            f.partRaw(idOfSpec),
            graft.icelite.Renames.physicalNames(m.renames, fileData,
              f.eraOrPath).getOrElse(Nil),
            fileDataSchemaJson = fileData.json,
            filePartSchemaJson = filePart.json,
            filePerm = perm): InputPartition
        }
      }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val identityBy = graft.icelite.PartField.identityCols(partitionBy)
    val dataSchema = StructType(
      tableSchema.fields.filterNot(f => identityBy.contains(f.name)))
    val partSchema = StructType(
      tableSchema.fields.filter(f => identityBy.contains(f.name)))
    // Streaming output binds POSITIONALLY to the relation's declared
    // columns (tableSchema order), but the columnar reader emits data
    // columns first and constant partition vectors last — permute back to
    // declared order, or a partition column anywhere but last misbinds.
    val physical = (dataSchema.fields ++ partSchema.fields).map(_.name)
    val perm = tableSchema.fieldNames.map(physical.indexOf(_)).toSeq
    IceLiteV2.readerFactory(dataSchema, partSchema, Array.empty, -1,
      if (perm == perm.indices) Nil else perm)
  }
}

/** The one per-file admission predicate behind [[IceLiteScan]]'s static
  * and runtime pruning — shared verbatim by the driver-side loop and the
  * distributed (`graft.prune.distributedThreshold`) Spark-job path, so the
  * two strategies cannot plan different file sets. Returns the surviving
  * file with its raw identity-partition directory values.
  */
private[graft] object PruneEval extends Serializable {

  /** Test hook: how many prune calls took the distributed path. */
  private[graft] val distributedRuns = new java.util.concurrent.atomic.AtomicLong

  def admit(f: FileStat, fs: Seq[Filter], tableSchema: StructType,
      partitionBy: Seq[String], specs: Seq[graft.icelite.PartSpecChange])
      : Option[(FileStat, Map[String, Option[String]])] = {
    import graft.icelite.PartField
    // each file's directory values follow ITS OWN era's spec; a column
    // that was not a partition column in that era prunes via the file's
    // footer stats instead (post-evolution writers store partition
    // columns in data, so the stats exist)
    val spec = PartField.specFor(f, partitionBy, specs)
    val idCols = PartField.identityCols(spec)
    val raw = f.partRaw(idCols)
    val pv = PartValues.decodeExternal(tableSchema, idCols, raw)
    // hidden-partitioning: predicates on a transform's SOURCE column map
    // through the transform onto the file's dir value — bucket equality,
    // days/truncate ranges — before any IO
    val tFields = PartField.parseSpec(spec).filterNot(_.isIdentity)
    val tRaw =
      if (tFields.isEmpty) Map.empty[String, Option[String]]
      else f.partRaw(tFields.map(_.fieldName))
    if (fs.forall(fl => FilePrune.canMatch(fl, tableSchema, f, pv) &&
        (tFields.isEmpty ||
          graft.icelite.TransformPrune.canMatch(fl, tableSchema, tFields, tRaw))))
      Some((f, raw))
    else None
  }
}

private[v2] case class IceLiteInputPartition(
    file: String, length: Long, partValues: Map[String, Option[String]],
    // physical (file-era) name per data-schema field; empty = identity
    physicalDataNames: Seq[String] = Nil,
    // partition-evolution override (file written under a DIFFERENT spec
    // than the current one): this file's own data/constant column split and
    // the permutation from its local (data ++ constants) layout to the
    // scan's global serving order. Empty = use the factory's globals.
    fileDataSchemaJson: String = "",
    filePartSchemaJson: String = "",
    filePerm: Seq[Int] = Nil,
    // position-delete files naming this data file (merge-on-read)
    deleteFiles: Seq[String] = Nil,
    // equality deletes reaching this file (merge-on-read): the reader
    // drops rows whose key tuple appears in the delete file
    eqDeletes: Seq[EqDeleteTask] = Nil,
    // CHANGELOG inversion (streaming CDC source): when either match list is
    // non-empty the reader serves ONLY the rows these deletes kill —
    // positions named by `matchDeleteFiles`, or key-tuple matches of
    // `matchEqDeletes` — after first subtracting the ordinary
    // deleteFiles/eqDeletes debt (the rows live at the PARENT snapshot),
    // which is exactly the batch changelog's delete-resolution semantics.
    matchDeleteFiles: Seq[String] = Nil,
    matchEqDeletes: Seq[EqDeleteTask] = Nil,
    // catalyst values of the file's partition key, in spec order — set only
    // when the scan reports a KeyGroupedPartitioning (storage-partitioned
    // joins); Spark groups same-key partitions into one co-located task
    partKey: Seq[Any] = Nil)
    extends InputPartition with HasPartitionKey {

  override def partitionKey(): InternalRow =
    new GenericInternalRow(partKey.toArray)
}

/** One equality-delete application unit shipped to a task: the delete
  * file, its key schema (logical names/types as of the scan), and the key
  * columns' indices within the partition's LOCAL data read schema.
  */
private[v2] case class EqDeleteTask(
    path: String, keySchemaJson: String, keyIdx: Seq[Int])

private[v2] class IceLiteReaderFactory(
    conf: SerializableConfiguration, dataSchemaJson: String,
    partSchemaJson: String, limit: Int,
    outputPermutation: Seq[Int] = Nil,
    rowMode: Boolean = false,
    posCol: Boolean = false)
    extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = !rowMode

  private def resolve(p: IceLiteInputPartition)
      : (StructType, StructType, Seq[Int]) = {
    // a partition-evolution file carries its own schema split + permutation
    val (dataJson, partJson, perm) =
      if (p.fileDataSchemaJson.nonEmpty)
        (p.fileDataSchemaJson, p.filePartSchemaJson, p.filePerm)
      else (dataSchemaJson, partSchemaJson, outputPermutation)
    val logical = DataType.fromJson(dataJson).asInstanceOf[StructType]
    // request the file-era physical names; batch columns are positional, so
    // the logical readSchema applies unchanged on top
    val requested =
      if (p.physicalDataNames.isEmpty) logical
      else StructType(logical.fields.zip(p.physicalDataNames)
        .map { case (f, n) => f.copy(name = n) })
    (requested, DataType.fromJson(partJson).asInstanceOf[StructType], perm)
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[IceLiteInputPartition]
    val (requested, partSchema, perm) = resolve(p)
    new IceLiteRowReader(p.file, p.length, p.partValues, conf, requested,
      partSchema, limit, p.deleteFiles, perm.toArray, p.eqDeletes, posCol,
      p.matchDeleteFiles, p.matchEqDeletes)
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[IceLiteInputPartition]
    require(p.deleteFiles.isEmpty && p.eqDeletes.isEmpty &&
      p.matchDeleteFiles.isEmpty && p.matchEqDeletes.isEmpty,
      "partitions with merge-on-read deletes must be read row-based")
    val (requested, partSchema, perm) = resolve(p)
    new IceLiteColumnarReader(
      p.file, p.length, p.partValues, conf, requested, partSchema, limit,
      perm.toArray)
  }
}

/** Columnar reader for one parquet data file: delegates decode to Spark's
  * own [[VectorizedParquetRecordReader]] (the exact engine behind native
  * `spark.read.parquet`), with the requested column set injected via the
  * standard parquet-mr read-support contract. Partition columns are
  * materialized as constant vectors by `initBatch`. Emits whole
  * `ColumnarBatch`es — the downstream plan stays in whole-stage codegen.
  */
private[v2] class IceLiteColumnarReader(
    file: String, length: Long, rawPartValues: Map[String, Option[String]],
    conf: SerializableConfiguration, dataSchema: StructType,
    partSchema: StructType, limit: Int,
    outputPermutation: Array[Int] = Array.empty)
    extends PartitionReader[ColumnarBatch] {

  private val reader: VectorizedParquetRecordReader = {
    val c = new org.apache.hadoop.conf.Configuration(conf.value)
    c.set("parquet.read.support.class",
      "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
    c.set("org.apache.spark.sql.parquet.row.requested_schema", dataSchema.json)
    val r = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, /* capacity = */ 4096)
    // Spark's reader base downcasts to the mapred flavor of FileSplit (which
    // extends the mapreduce one), so that is the class to hand it.
    // A zero/unknown length (legacy manifest entries) must not become an
    // empty split — stat the file instead.
    val p = new Path(file)
    val len = if (length > 0) length else IceFs.of(p, c).getFileStatus(p).getLen
    val split = new org.apache.hadoop.mapred.FileSplit(p, 0, len, Array.empty[String])
    r.initialize(split, new TaskAttemptContextImpl(c, new TaskAttemptID()))
    r.initBatch(partSchema, PartValues.internalRow(partSchema, rawPartValues))
    r.enableReturningBatches()
    r
  }

  private var batch: ColumnarBatch = _
  private var emitted = 0L

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    if (!reader.nextKeyValue()) return false
    batch = reader.getCurrentValue.asInstanceOf[ColumnarBatch]
    // over-delivery within the last batch is fine: pushLimit returned
    // `false` (partial), so Spark re-applies the exact limit above
    emitted += batch.numRows()
    true
  }

  override def get(): ColumnarBatch =
    if (outputPermutation.isEmpty) batch
    else {
      // zero-copy column reorder: same vectors, presented in the serving
      // order the consumer's attributes are bound to
      val cols = outputPermutation.map(batch.column)
      new ColumnarBatch(
        cols.asInstanceOf[Array[org.apache.spark.sql.vectorized.ColumnVector]],
        batch.numRows())
    }
  override def close(): Unit = reader.close()
}

/** Row-serving reader for one parquet data file, used whenever the scan
  * cannot be columnar — i.e. when position-delete files apply (merge-on-
  * read). Decode still runs through the vectorized reader (row views over
  * its batches); this wrapper counts ABSOLUTE row positions and skips the
  * deleted ones. Row-group skipping via parquet predicates is disabled for
  * the file (positions are absolute within the file, and this reader
  * derives them by counting), which is the standard MOR read tax until
  * compaction folds the deletes away.
  */
private[v2] class IceLiteRowReader(
    file: String, length: Long, rawPartValues: Map[String, Option[String]],
    conf: SerializableConfiguration, dataSchema: StructType,
    partSchema: StructType, limit: Int, deleteFiles: Seq[String],
    outputPermutation: Array[Int] = Array.empty,
    eqDeletes: Seq[EqDeleteTask] = Nil,
    // serve the absolute row position as a trailing `_pos` column
    posCol: Boolean = false,
    // changelog inversion: serve ONLY rows these deletes kill (after the
    // ordinary subtract above) — see IceLiteInputPartition.matchDeleteFiles
    matchDeleteFiles: Seq[String] = Nil,
    matchEqDeletes: Seq[EqDeleteTask] = Nil)
    extends PartitionReader[InternalRow] {

  /** Equality-delete probes: (key indices into the local data row, key
    * types, key-tuple set). Key sets are loaded once per executor per
    * delete file ([[EqDeleteKeys]] cache), not once per partition.
    */
  private def buildProbes(tasks: Seq[EqDeleteTask])
      : Array[(Array[Int], Array[DataType], java.util.HashSet[List[Any]])] =
    tasks.map { t =>
      val ks = DataType.fromJson(t.keySchemaJson).asInstanceOf[StructType]
      (t.keyIdx.toArray, ks.fields.map(_.dataType),
        EqDeleteKeys.load(conf.value, t.path, ks))
    }.toArray

  private val eqProbes = buildProbes(eqDeletes)
  private val matchEqProbes = buildProbes(matchEqDeletes)
  private val matchMode = matchDeleteFiles.nonEmpty || matchEqDeletes.nonEmpty

  /** Is the CURRENT row's key tuple in any of the probes' key sets?
    * Null-safe (a null key matches a null delete key, mirroring upsert's
    * `<=>`); -0.0/NaN normalize to Spark's SQL equality.
    */
  private def keyHit(
      probes: Array[(Array[Int], Array[DataType], java.util.HashSet[List[Any]])],
      row: InternalRow): Boolean = {
    var i = 0
    while (i < probes.length) {
      val (idx, dts, set) = probes(i)
      val b = List.newBuilder[Any]
      var j = 0
      while (j < idx.length) {
        b += (if (row.isNullAt(idx(j))) null
        else EqDeleteKeys.normalize(row.get(idx(j), dts(j)), copyStrings = false))
        j += 1
      }
      if (set.contains(b.result())) return true
      i += 1
    }
    false
  }

  /** Absolute positions of THIS file named by `files` (position deletes). */
  private def loadPositions(files: Seq[String]): java.util.HashSet[java.lang.Long] = {
    val set = new java.util.HashSet[java.lang.Long]()
    if (files.isEmpty) return set
    val myNorm = new Path(file).toString
    // the factory conf may carry the scan's pushed parquet FilterPredicate
    // (on DATA columns) — evaluating it against the delete file, which has
    // none of those columns, drops every row; read deletes with it stripped
    val cleanConf = new org.apache.hadoop.conf.Configuration(conf.value)
    cleanConf.unset(org.apache.parquet.hadoop.ParquetInputFormat.FILTER_PREDICATE)
    files.foreach { df =>
      val rd = org.apache.parquet.hadoop.ParquetReader.builder(
        new org.apache.parquet.hadoop.example.GroupReadSupport(), new Path(df))
        .withConf(cleanConf).build()
      try {
        var g = rd.read()
        while (g != null) {
          val fp = g.getBinary("file_path", 0).toStringUsingUTF8
          if (new Path(fp).toString == myNorm)
            set.add(g.getLong("pos", 0))
          g = rd.read()
        }
      } finally rd.close()
    }
    set
  }

  /** Deleted absolute positions of THIS file, from its delete files. */
  private val deleted = loadPositions(deleteFiles)
  private val matchPositions = loadPositions(matchDeleteFiles)

  private val reader: VectorizedParquetRecordReader = {
    val c = new org.apache.hadoop.conf.Configuration(conf.value)
    c.set("parquet.read.support.class",
      "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
    c.set("org.apache.spark.sql.parquet.row.requested_schema", dataSchema.json)
    // this reader derives positions by COUNTING served rows — a skipped
    // row group would silently shift every later position (serving `_pos`
    // has the same absoluteness requirement as applying deletes)
    if (deleteFiles.nonEmpty || posCol || matchMode)
      c.unset(org.apache.parquet.hadoop.ParquetInputFormat.FILTER_PREDICATE)
    val r = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, /* capacity = */ 4096)
    val p = new Path(file)
    val len = if (length > 0) length else IceFs.of(p, c).getFileStatus(p).getLen
    val split = new org.apache.hadoop.mapred.FileSplit(p, 0, len, Array.empty[String])
    r.initialize(split, new TaskAttemptContextImpl(c, new TaskAttemptID()))
    r.initBatch(partSchema, PartValues.internalRow(partSchema, rawPartValues))
    r // row mode: no enableReturningBatches
  }

  private val outTypes: Array[DataType] =
    (dataSchema.fields ++ partSchema.fields).map(_.dataType)

  private var pos = -1L
  private var served = 0L

  override def next(): Boolean = {
    while (limit < 0 || served < limit) {
      if (!reader.nextKeyValue()) return false
      pos += 1
      def row = reader.getCurrentValue.asInstanceOf[InternalRow]
      // rows live BEFORE this partition's match deletes apply
      val live = !deleted.contains(pos) &&
        (eqProbes.isEmpty || !keyHit(eqProbes, row))
      val serve =
        if (!matchMode) live
        // changelog inversion: only the rows the match deletes kill
        else live && (matchPositions.contains(pos) ||
          (matchEqProbes.nonEmpty && keyHit(matchEqProbes, row)))
      if (serve) { served += 1; return true }
    }
    false
  }

  // `_pos` serving: one reused holder + JoinedRow — the position column is
  // appended without copying the (reader-owned, consumed-immediately) row
  private val posHolder = new GenericInternalRow(1)
  private val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow()

  override def get(): InternalRow = {
    val row = reader.getCurrentValue.asInstanceOf[InternalRow]
    val base =
      if (outputPermutation.isEmpty) row
      else {
        // boxed copy in permuted order (evolution-era files only — their
        // local layout differs from the scan's global serving order)
        val vals = new Array[Any](outputPermutation.length)
        var i = 0
        while (i < outputPermutation.length) {
          val src = outputPermutation(i)
          vals(i) = if (row.isNullAt(src)) null else row.get(src, outTypes(src))
          i += 1
        }
        new GenericInternalRow(vals)
      }
    if (!posCol) base
    else {
      posHolder.update(0, pos)
      joined(base, posHolder)
    }
  }

  override def close(): Unit = reader.close()
}

/** Loads an equality-delete file's key tuples into a probe set, cached
  * per executor JVM: delete files are immutable once committed, and one
  * delete typically reaches MANY data-file partitions in a scan — without
  * the cache every task would re-read it. Values are normalized into
  * Spark SQL's equality domain (-0.0 folded to 0.0, NaN self-equal via
  * boxed equals) and strings copied out of the reader's reused buffers.
  */
private[v2] object EqDeleteKeys {

  private val Cap = 64
  private val cache =
    new java.util.LinkedHashMap[String, java.util.HashSet[List[Any]]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.util.HashSet[List[Any]]]): Boolean =
        size > Cap
    }

  def normalize(v: Any, copyStrings: Boolean): Any = v match {
    case u: org.apache.spark.unsafe.types.UTF8String =>
      if (copyStrings) u.clone() else u
    case d: java.lang.Double =>
      if (d.doubleValue == 0.0) java.lang.Double.valueOf(0.0) else d
    case f: java.lang.Float =>
      if (f.floatValue == 0.0f) java.lang.Float.valueOf(0.0f) else f
    case x => x
  }

  def load(conf: org.apache.hadoop.conf.Configuration, path: String,
      keySchema: StructType): java.util.HashSet[List[Any]] = {
    val ck = path + "|" + keySchema.json
    cache.synchronized {
      val hit = cache.get(ck)
      if (hit != null) return hit
    }
    // the scan's pushed parquet FilterPredicate is typed against DATA
    // columns; evaluated against the delete file (which has only key
    // columns) it would drop every row — strip it before reading
    val c = new org.apache.hadoop.conf.Configuration(conf)
    c.unset(org.apache.parquet.hadoop.ParquetInputFormat.FILTER_PREDICATE)
    c.set("parquet.read.support.class",
      "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
    c.set("org.apache.spark.sql.parquet.row.requested_schema", keySchema.json)
    val r = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, /* capacity = */ 4096)
    val p = new Path(path)
    val len = IceFs.of(p, c).getFileStatus(p).getLen
    val split = new org.apache.hadoop.mapred.FileSplit(p, 0, len, Array.empty[String])
    r.initialize(split, new TaskAttemptContextImpl(c, new TaskAttemptID()))
    r.initBatch(new StructType(), PartValues.internalRow(new StructType(), Map.empty))
    val set = new java.util.HashSet[List[Any]]()
    try {
      val dts = keySchema.fields.map(_.dataType)
      while (r.nextKeyValue()) {
        val row = r.getCurrentValue.asInstanceOf[InternalRow]
        val b = List.newBuilder[Any]
        var i = 0
        while (i < dts.length) {
          b += (if (row.isNullAt(i)) null
          else normalize(row.get(i, dts(i)), copyStrings = true))
          i += 1
        }
        set.add(b.result())
      }
    } finally r.close()
    cache.synchronized { cache.put(ck, set) }
    set
  }
}

/** Maps the sound subset of Spark source filters onto parquet-mr's
  * `FilterApi` so row groups whose footer statistics cannot match are
  * skipped before any page IO. Only shapes with conservative parquet
  * statistics semantics are translated (no Not — its stats inversion is
  * easy to get subtly wrong); everything else simply contributes no
  * predicate. All filters remain residual in the Spark plan, so this can
  * only skip IO, never change results.
  */
private[v2] object RowGroupFilter {

  import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
  import org.apache.parquet.io.api.Binary
  import org.apache.spark.sql.sources._

  def build(filters: Array[Filter], dataSchema: StructType): Option[FilterPredicate] = {
    val preds = filters.flatMap(f => translate(f, dataSchema))
    preds.reduceOption(FilterApi.and)
  }

  private def dt(c: String, schema: StructType): Option[DataType] =
    schema.fields.find(_.name == c).map(_.dataType)

  // one comparison kind across the typed FilterApi overloads
  private sealed trait Op
  private case object EqOp extends Op
  private case object LtOp extends Op
  private case object LtEqOp extends Op
  private case object GtOp extends Op
  private case object GtEqOp extends Op

  private def cmp(c: String, v: Any, schema: StructType, op: Op): Option[FilterPredicate] =
    dt(c, schema).flatMap {
      case IntegerType => intPred(c, Option(v).map {
        case n: Number => Int.box(n.intValue); case _ => return None
      }, op)
      case DateType => intPred(c, Option(v).map {
        case d: java.sql.Date => Int.box(d.toLocalDate.toEpochDay.toInt)
        case d: java.time.LocalDate => Int.box(d.toEpochDay.toInt)
        case _ => return None
      }, op)
      case LongType => longPred(c, Option(v).map {
        case n: Number => Long.box(n.longValue); case _ => return None
      }, op)
      // timestamps are deliberately NOT translated: the predicate would be
      // typed INT64-micros, but files may physically carry INT96 (Spark's
      // default outputTimestampType) or millis — a type mismatch makes
      // parquet-mr's SchemaCompatibilityValidator fail the whole read, and
      // a unit mismatch would silently skip matching row groups. File-level
      // manifest pruning still covers timestamp predicates.
      case TimestampType | TimestampNTZType => None
      case DoubleType => doublePred(c, Option(v).map {
        case n: Number => Double.box(n.doubleValue); case _ => return None
      }, op)
      case FloatType => floatPred(c, Option(v).map {
        case n: java.lang.Float => n
        case _ => return None
      }, op)
      case StringType => binPred(c, Option(v).map {
        case s: String => Binary.fromString(s)
        case u: UTF8String => Binary.fromString(u.toString)
        case _ => return None
      }, op)
      case BooleanType => op match {
        // only eq is defined for booleans in FilterApi
        case EqOp => Option(v).collect {
          case b: java.lang.Boolean => FilterApi.eq(FilterApi.booleanColumn(c), b)
        }
        case _ => None
      }
      case _ => None
    }

  private def intPred(c: String, v: Option[Integer], op: Op) = {
    val col = FilterApi.intColumn(c)
    op match {
      case EqOp => Some(FilterApi.eq(col, v.orNull))
      case LtOp => v.map(FilterApi.lt(col, _))
      case LtEqOp => v.map(FilterApi.ltEq(col, _))
      case GtOp => v.map(FilterApi.gt(col, _))
      case GtEqOp => v.map(FilterApi.gtEq(col, _))
    }
  }
  private def longPred(c: String, v: Option[java.lang.Long], op: Op) = {
    val col = FilterApi.longColumn(c)
    op match {
      case EqOp => Some(FilterApi.eq(col, v.orNull))
      case LtOp => v.map(FilterApi.lt(col, _))
      case LtEqOp => v.map(FilterApi.ltEq(col, _))
      case GtOp => v.map(FilterApi.gt(col, _))
      case GtEqOp => v.map(FilterApi.gtEq(col, _))
    }
  }
  private def doublePred(c: String, v: Option[java.lang.Double], op: Op) = {
    val col = FilterApi.doubleColumn(c)
    op match {
      case EqOp => Some(FilterApi.eq(col, v.orNull))
      case LtOp => v.map(FilterApi.lt(col, _))
      case LtEqOp => v.map(FilterApi.ltEq(col, _))
      case GtOp => v.map(FilterApi.gt(col, _))
      case GtEqOp => v.map(FilterApi.gtEq(col, _))
    }
  }
  private def floatPred(c: String, v: Option[java.lang.Float], op: Op) = {
    val col = FilterApi.floatColumn(c)
    op match {
      case EqOp => Some(FilterApi.eq(col, v.orNull))
      case LtOp => v.map(FilterApi.lt(col, _))
      case LtEqOp => v.map(FilterApi.ltEq(col, _))
      case GtOp => v.map(FilterApi.gt(col, _))
      case GtEqOp => v.map(FilterApi.gtEq(col, _))
    }
  }
  private def binPred(c: String, v: Option[Binary], op: Op) = {
    val col = FilterApi.binaryColumn(c)
    op match {
      case EqOp => Some(FilterApi.eq(col, v.orNull))
      case LtOp => v.map(FilterApi.lt(col, _))
      case LtEqOp => v.map(FilterApi.ltEq(col, _))
      case GtOp => v.map(FilterApi.gt(col, _))
      case GtEqOp => v.map(FilterApi.gtEq(col, _))
    }
  }

  /** Sound translation or None (conjuncts translate independently). */
  private def translate(f: Filter, schema: StructType): Option[FilterPredicate] = f match {
    case EqualTo(c, v) if v != null => cmp(c, v, schema, EqOp)
    case GreaterThan(c, v) if v != null => cmp(c, v, schema, GtOp)
    case GreaterThanOrEqual(c, v) if v != null => cmp(c, v, schema, GtEqOp)
    case LessThan(c, v) if v != null => cmp(c, v, schema, LtOp)
    case LessThanOrEqual(c, v) if v != null => cmp(c, v, schema, LtEqOp)
    case In(c, vs) if vs != null && vs.nonEmpty && vs.length <= 20 =>
      val eqs = vs.toSeq.map(v =>
        if (v == null) None else cmp(c, v, schema, EqOp))
      if (eqs.contains(None)) None else eqs.flatten.reduceOption(FilterApi.or)
    case IsNull(c) => cmp(c, null, schema, EqOp)
    case IsNotNull(c) => dt(c, schema).flatMap {
      case IntegerType | DateType => Some(FilterApi.notEq(FilterApi.intColumn(c), null: Integer))
      // timestamps excluded for the same reason as in cmp(): the column may be
      // physically INT96, and a long-typed predicate makes parquet-mr's
      // SchemaCompatibilityValidator fail the whole read. Catalyst infers
      // IsNotNull for every timestamp comparison, so translating it would
      // break every timestamp-filtered query on INT96 files.
      case LongType =>
        Some(FilterApi.notEq(FilterApi.longColumn(c), null: java.lang.Long))
      case DoubleType => Some(FilterApi.notEq(FilterApi.doubleColumn(c), null: java.lang.Double))
      case FloatType => Some(FilterApi.notEq(FilterApi.floatColumn(c), null: java.lang.Float))
      case StringType => Some(FilterApi.notEq(FilterApi.binaryColumn(c),
        null: org.apache.parquet.io.api.Binary))
      case BooleanType => Some(FilterApi.notEq(FilterApi.booleanColumn(c), null: java.lang.Boolean))
      case _ => None
    }
    case And(l, r) =>
      (translate(l, schema), translate(r, schema)) match {
        case (Some(a), Some(b)) => Some(FilterApi.and(a, b))
        case (a, b) => a.orElse(b) // partial conjunction is still sound
      }
    case Or(l, r) =>
      for { a <- translate(l, schema); b <- translate(r, schema) }
        yield FilterApi.or(a, b)
    case _ => None
  }
}

