package graft.sources.v2

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.icelite.IceCatalog

/** SQL catalog plugin over an IceLite warehouse: configure
  * `spark.sql.catalog.<name>=graft.sources.v2.IceLiteCatalog` and
  * `spark.sql.catalog.<name>.warehouse=<dir>`, then address tables as
  * `<name>.<namespace>.<table>` in plain SQL — `SELECT * FROM
  * icelite.lake.events_t`, `SHOW TABLES IN icelite.lake`, `CREATE TABLE`,
  * `DROP TABLE`.
  *
  * Reads go through the same pushdown-capable scan as
  * `spark.read.format("icelite")` ([[IceLiteV2.buildTable]]); `INSERT INTO`
  * / `df.writeTo(...).append()` run the distributed two-phase append in
  * [[IceLiteWriteBuilder]] (staging dir + driver-side snapshot commit). DDL
  * delegates to [[graft.icelite.IceCatalog]], which maps the reference's
  * catalog surface (D1-D7). Upsert/replace stay on the table API — the
  * component's write modes.
  */
class IceLiteCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with FunctionCatalog with StagingTableCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  private def cat: IceCatalog = new IceCatalog(SparkSession.active, warehouse)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"spark.sql.catalog.$name.warehouse is required"))
  }

  override def name(): String = catalogName

  // -- tables -----------------------------------------------------------------

  private def nsOf(ident: Identifier): String = {
    require(ident.namespace().length == 1,
      s"icelite uses single-level namespaces, got ${ident.namespace().mkString(".")}")
    ident.namespace()(0)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (namespace.length != 1 || !cat.namespaceExists(namespace(0)))
      throw new NoSuchNamespaceException(namespace.toSeq)
    cat.listTables(namespace(0)).map(t => Identifier.of(namespace, t)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    // `<cat>.<ns>.<tbl>.snapshots` / `.files` — Iceberg-style metadata
    // tables: the 4-part identifier arrives as namespace [ns, tbl] + a
    // reserved metadata name
    if (ident.namespace().length == 2 && IceLiteMeta.names.contains(ident.name())) {
      val Array(ns, tbl) = ident.namespace()
      val (meta, fs) = IceLiteV2.loadMeta(warehouse, ns, tbl)
      return IceLiteMeta.table(meta, fs, ident.name(),
        new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(warehouse, ns), tbl))
    }
    val (meta, fs) = IceLiteV2.loadMeta(warehouse, nsOf(ident), ident.name())
    IceLiteV2.buildTable(warehouse, meta, fs, snapshotId = None,
      viaCatalog = true)
  }

  /** SQL time travel: `SELECT … FROM <cat>.<ns>.<tbl> VERSION AS OF <v>` —
    * a numeric version is a snapshot id; anything else resolves as a tag
    * name (named ref pinning a snapshot), so `VERSION AS OF 'v1_corpus'`
    * reads the exact tagged version. Both land on the same pinned scan as
    * the `snapshotId` read option (`ex/src/component.py:38` semantics).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val (meta, fs) = IceLiteV2.loadMeta(warehouse, nsOf(ident), ident.name())
    val snapId = version.toLongOption.orElse(meta.refSnapshot(version)).getOrElse(
      throw new IllegalArgumentException(
        s"'$version' is neither a snapshot id nor a tag of ${ident.name()} " +
          s"(tags: ${meta.refs.keys.toSeq.sorted.mkString(", ")}; " +
          "use `list_snapshots` for ids)"))
    IceLiteV2.buildTable(warehouse, meta, fs,
      snapshotId = Some(snapId.toString), viaCatalog = true)
  }

  /** `TIMESTAMP AS OF`: micros since epoch — pin to the latest snapshot
    * committed at or before the timestamp.
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val (meta, fs) = IceLiteV2.loadMeta(warehouse, nsOf(ident), ident.name())
    val tsMs = timestampMicros / 1000L
    val snap = meta.snapshots.filter(_.timestampMs <= tsMs)
      .sortBy(_.snapshotId).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"no snapshot of ${ident.name()} at or before timestamp $tsMs ms"))
    IceLiteV2.buildTable(warehouse, meta, fs,
      snapshotId = Some(snap.snapshotId.toString), viaCatalog = true)
  }

  // `PARTITIONED BY (col, bucket(N, col), days(ts), truncate(W, col))` —
  // identity entries become the hive layout; bucket/days/truncate become
  // hidden-partitioning specs (value computed at write, pruned at plan,
  // never user-visible — see graft.icelite.Transforms)
  private def partitionSpecOf(partitions: Array[Transform]): Seq[String] =
    partitions.toSeq.map { t =>
      def ref: String = {
        require(t.references().length == 1 &&
          t.references()(0).fieldNames().length == 1,
          s"icelite partition transforms take one top-level column; got $t")
        t.references()(0).fieldNames()(0)
      }
      def intArg: Int = t.arguments().collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value().asInstanceOf[Number].intValue
      }.getOrElse(throw new IllegalArgumentException(
        s"icelite: transform $t needs an integer argument"))
      t.name() match {
        case "identity" => ref
        case "bucket" => s"bucket($intArg,$ref)"
        case "days" | "day" => s"days($ref)"
        case "months" | "month" => s"months($ref)"
        case "years" | "year" => s"years($ref)"
        case "hours" | "hour" => s"hours($ref)"
        case "truncate" => s"truncate($intArg,$ref)"
        case other => throw new UnsupportedOperationException(
          s"icelite supports identity/bucket/days/months/years/hours/" +
            s"truncate partitioning; got $other")
      }
    }

  // `TBLPROPERTIES ('sorted_by' = 'col1,col2')` declares the table write
  // sort order: every write sorts files on it, every scan reports it
  // (SupportsReportOrdering), downstream sort-merge joins skip their sorts
  private def sortedByOf(properties: util.Map[String, String]): Seq[String] =
    Option(properties.get("sorted_by")).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  // remaining TBLPROPERTIES persist with the table; the engine interprets
  // write.<delete|update|merge>.mode (validated in IceCatalog), Spark's
  // own bookkeeping keys (provider/location/owner/...) stay out
  private def storedPropsOf(properties: util.Map[String, String]): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    properties.asScala.toMap --
      IceLiteCatalog.ReservedProperties - "sorted_by"
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    // SQL-created tables must be SQL-writable: refuse an unsupported column
    // type at CREATE TABLE, naming the column — not on the first INSERT
    // (and never at task time). Nested-typed tables stay creatable through
    // the Scala table API, whose DataFrame writes handle them.
    IceLiteWriteSchema.validate(schema,
      s"CREATE TABLE ${nsOf(ident)}.${ident.name()}")
    cat.createTable(nsOf(ident), ident.name(), schema,
      partitionSpecOf(partitions), sortedByOf(properties),
      storedPropsOf(properties))
    loadTable(ident)
  }

  // -- atomic CTAS / RTAS (StagingTableCatalog) -------------------------------
  // `CREATE [OR REPLACE] / REPLACE TABLE ... AS SELECT` stage their data
  // through the DSv2 writer and publish table metadata + first/replace
  // snapshot in ONE version-CAS commit (IceLiteStagedTable) — readers never
  // observe an empty or half-written table, and a failed query leaves the
  // previous table state untouched (Iceberg's StagingTableCatalog shape).

  private def stage(ident: Identifier, info: TableInfo, mode: String): StagedTable = {
    val schema = StructType(info.columns().map(c =>
      StructField(c.name(), c.dataType(), c.nullable())))
    IceLiteWriteSchema.validate(schema,
      s"CREATE/REPLACE TABLE ${nsOf(ident)}.${ident.name()}")
    new IceLiteStagedTable(warehouse, nsOf(ident), ident.name(), schema,
      partitionSpecOf(info.partitions()), sortedByOf(info.properties()),
      storedPropsOf(info.properties()), mode)
  }

  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, "create")

  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, "replace")

  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, "createOrReplace")

  /** Schema evolution: ADD / RENAME / DROP COLUMN and lossless type
    * WIDENING are metadata-only commits (no data movement — Iceberg
    * semantics). The table schema and the CURRENT snapshot's schema evolve;
    * files written before the change simply lack the column (read as NULL),
    * carry the old name (resolved per file era), or carry the narrower
    * physical type (upcast by the vectorized reader). Older snapshots keep
    * their pinned schemas, so time travel still sees the world as it was.
    * Anything lossy stays a replace()-level operation.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val unsupported = changes.filterNot(c =>
      c.isInstanceOf[TableChange.AddColumn] ||
        c.isInstanceOf[TableChange.RenameColumn] ||
        c.isInstanceOf[TableChange.DeleteColumn] ||
        c.isInstanceOf[TableChange.UpdateColumnType] ||
        c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty])
    if (unsupported.nonEmpty)
      throw new UnsupportedOperationException(
        s"icelite supports ALTER TABLE ADD/RENAME/DROP COLUMN, type " +
          s"WIDENING, and SET/UNSET TBLPROPERTIES only; " +
          s"got ${unsupported.mkString(", ")} — evolve via replace()")
    val (ns, tbl) = (nsOf(ident), ident.name())
    val dir = cat.tablePath(ns, tbl)
    val fs = graft.icelite.IceFs.of(dir,
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
    val meta = graft.icelite.MetaIo.read(fs, dir)
    var schema = StructType.fromDDL(meta.schemaDdl)
    var renames = meta.renames
    var retired = meta.retiredColumns
    var added = meta.addedColumns
    var widened = meta.widenedColumns
    var sortOrd = meta.sortOrder
    var props = meta.properties
    def topLevel(fieldNames: Array[String], what: String): String = {
      require(fieldNames.length == 1,
        s"icelite columns are top-level; cannot $what nested ${fieldNames.mkString(".")}")
      fieldNames(0)
    }
    // outstanding equality-delete files store key VALUES under the current
    // column names; renaming or dropping a key column would orphan the
    // probe. Position deletes are name-free and unaffected.
    lazy val eqDebtCols: Set[String] = meta.currentSnapshot
      .map(s => graft.icelite.FileStats.deletesOf(fs, s)).getOrElse(Nil)
      .filter(_.isEquality).flatMap(_.eqCols).toSet
    changes.foreach {
      case add: TableChange.AddColumn =>
        val name = topLevel(add.fieldNames(), "add")
        require(!schema.fieldNames.contains(name),
          s"column $name already exists in $ns.$tbl")
        // a name that was dropped or renamed away still exists PHYSICALLY in
        // old files; a name-based re-add would resurrect that data
        require(!retired.contains(name),
          s"column name $name was previously dropped/renamed in $ns.$tbl and " +
            "cannot be re-added (old data files still carry it); use a new name")
        IceLiteWriteSchema.validate(
          StructType(Seq(StructField(name, add.dataType()))),
          s"ALTER TABLE $ns.$tbl ADD COLUMN")
        schema = schema.add(name, add.dataType(), nullable = true)
        // addition ledger: files of eras <= the current snapshot provably
        // predate this column (same cutoff convention as renames) — the
        // NDV estimate treats them as zero-contribution instead of refusing
        added :+= graft.icelite.ColumnAdd(meta.currentSnapshotId, name)
      case ren: TableChange.RenameColumn =>
        val from = topLevel(ren.fieldNames(), "rename")
        val to = ren.newName()
        require(schema.fieldNames.contains(from), s"no column $from in $ns.$tbl")
        require(!schema.fieldNames.contains(to),
          s"column $to already exists in $ns.$tbl")
        require(!retired.contains(to),
          s"column name $to was previously dropped/renamed in $ns.$tbl and " +
            "cannot be reused (old data files still carry it); use a new name")
        require(!meta.partitionBy.contains(from),
          s"cannot rename partition column $from: partition values are " +
            "directory names and directories are immutable")
        require(!eqDebtCols.contains(from),
          s"cannot rename $from: outstanding equality deletes key on it — " +
            "fold them first (compact / CALL rewrite_data_files)")
        schema = StructType(schema.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f))
        renames :+= graft.icelite.ColumnRename(meta.currentSnapshotId, from, to)
        retired :+= from
        // the declared sort order follows the rename: files stay physically
        // sorted by the same column whatever its logical name, and reads
        // already resolve per-era physical names
        sortOrd = sortOrd.map(c => if (c == from) to else c)
      case del: TableChange.DeleteColumn =>
        val name = topLevel(del.fieldNames(), "drop")
        require(schema.fieldNames.contains(name), s"no column $name in $ns.$tbl")
        require(!meta.partitionBy.contains(name),
          s"cannot drop partition column $name")
        require(!eqDebtCols.contains(name),
          s"cannot drop $name: outstanding equality deletes key on it — " +
            "fold them first (compact / CALL rewrite_data_files)")
        require(schema.length > 1, s"cannot drop the last column of $ns.$tbl")
        schema = StructType(schema.fields.filterNot(_.name == name))
        retired :+= name
        // dropping a sort column truncates the declared order at that
        // column: files sorted by (a, b) are still sorted by (a), but not
        // by (b) alone
        sortOrd = sortOrd.takeWhile(_ != name)
      case upd: TableChange.UpdateColumnType =>
        // metadata-only type WIDENING (Iceberg's promotion rules): old files
        // keep the narrower physical type and the vectorized reader upcasts
        // at scan time; anything lossy stays a replace()-level operation.
        val name = topLevel(upd.fieldNames(), "retype")
        val field = schema.fields.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(s"no column $name in $ns.$tbl"))
        val to = upd.newDataType()
        require(IceLiteCatalog.widens(field.dataType, to),
          s"cannot change $name from ${field.dataType.simpleString} to " +
            s"${to.simpleString}: only lossless widenings " +
            "(byte/short/int -> wider integral, float -> double) are " +
            "metadata-only; anything else needs a rewrite via replace()")
        schema = StructType(schema.fields.map(f =>
          if (f.name == name) f.copy(dataType = to) else f))
        widened :+= name
      case set: TableChange.SetProperty =>
        // `ALTER TABLE ... SET TBLPROPERTIES` — the sort order is a
        // write-time CONTRACT over existing files, so it stays create-only;
        // behavioral knobs like write.<cmd>.mode flip freely (they affect
        // only FUTURE writes)
        require(set.property() != "sorted_by",
          "sorted_by is declared at CREATE TABLE; existing files would not " +
            "match a changed order — use CALL <catalog>.system.set_sort_order" +
            "(table, array(...)), which rewrites the data and declares the " +
            "order in one atomic commit")
        props += (set.property() -> set.value())
      case rm: TableChange.RemoveProperty =>
        props -= rm.property()
    }
    graft.icelite.IceCatalog.validateProperties(props)
    val ddl = schema.toDDL
    graft.icelite.MetaIo.commit(fs, dir, meta.copy(
      schemaDdl = ddl,
      // the current snapshot's view evolves with the table; history stays
      snapshots = meta.snapshots.map(s =>
        if (s.snapshotId == meta.currentSnapshotId) s.copy(schemaDdl = ddl) else s),
      version = meta.version + 1,
      renames = renames,
      retiredColumns = retired,
      addedColumns = added,
      widenedColumns = widened,
      sortOrder = sortOrd,
      properties = props))
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    cat.tableExists(nsOf(ident), ident.name()) &&
      cat.dropTable(nsOf(ident), ident.name())

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("icelite does not support rename")

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace().length == 1 && cat.tableExists(nsOf(ident), ident.name())

  // -- functions (SELECT <cat>.system.<fn>(...)) ------------------------------

  // the EMPTY namespace is accepted alongside `system` because Spark's
  // storage-partitioned-join resolution (V2ExpressionUtils.loadV2FunctionOpt)
  // looks a reported transform's function up at the catalog root — rejecting
  // it would silently disable SPJ on every bucket/days/truncate layout
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction = {
    val ns = ident.namespace()
    if (!(ns.isEmpty || ns.sameElements(IceLiteProcedures.Namespace)) ||
        !IceLiteFunctions.names.contains(ident.name()))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
    IceLiteFunctions.load(ident.name())
  }

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(IceLiteProcedures.Namespace))
      IceLiteFunctions.names
        .map(n => Identifier.of(IceLiteProcedures.Namespace, n)).toArray
    else Array.empty

  override def functionExists(ident: Identifier): Boolean =
    (ident.namespace().isEmpty ||
      ident.namespace().sameElements(IceLiteProcedures.Namespace)) &&
      IceLiteFunctions.names.contains(ident.name())

  // -- procedures (CALL <cat>.system.<proc>) ----------------------------------

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().sameElements(IceLiteProcedures.Namespace),
      s"icelite procedures live in the 'system' namespace; got " +
        s"${ident.namespace().mkString(".")}.${ident.name()}")
    IceLiteProcedures.load(warehouse, ident.name())
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(IceLiteProcedures.Namespace))
      IceLiteProcedures.names
        .map(n => Identifier.of(IceLiteProcedures.Namespace, n)).toArray
    else Array.empty

  // -- namespaces -------------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    cat.listNamespaces().map(ns => Array(ns)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespace.length == 1 && cat.namespaceExists(namespace(0))) Array.empty
    else throw new NoSuchNamespaceException(namespace.toSeq)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (namespace.length != 1 || !cat.namespaceExists(namespace(0)))
      throw new NoSuchNamespaceException(namespace.toSeq)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    require(namespace.length == 1, "icelite uses single-level namespaces")
    if (cat.namespaceExists(namespace(0)))
      throw new NamespaceAlreadyExistsException(namespace)
    cat.createNamespace(namespace(0))
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("icelite namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (namespace.length != 1 || !cat.namespaceExists(namespace(0))) false
    else {
      if (!cascade && cat.listTables(namespace(0)).nonEmpty)
        throw new IllegalStateException(
          s"namespace ${namespace(0)} is not empty (use CASCADE)")
      val p = new org.apache.hadoop.fs.Path(warehouse, namespace(0))
      graft.icelite.IceFs.of(p, SparkSession.active.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }
}

object IceLiteCatalog {

  /** Keys Spark injects into createTable properties for its own bookkeeping
    * — never persisted as table properties.
    */
  val ReservedProperties: Set[String] =
    Set("provider", "location", "owner", "comment", "external",
      "option.warehouse", "option.table")

  /** Lossless metadata-only type promotions (Iceberg's widening rules for
    * the primitive types this engine serves): every value representable in
    * the narrow type is exactly representable in the wide one, and the
    * vectorized parquet reader upcasts the narrow PHYSICAL encoding to the
    * wide logical type natively — so no file rewrite is ever needed.
    */
  def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      // decimal(p, s) -> decimal(p + k, s): same scale, more precision —
      // every narrow value is exactly representable wide, and the
      // vectorized parquet reader promotes the narrow physical encoding
      // when decoding against the wider requested type. A scale change is
      // NOT metadata-only (values would need rescaling) and stays refused.
      case (d1: DecimalType, d2: DecimalType) =>
        d2.scale == d1.scale && d2.precision > d1.precision
      case _ => false
    }
  }
}
