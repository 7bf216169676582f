package graft.sources.v2

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.icelite.{IceCatalog, IceFs, IceTable}

/** SQL maintenance surface: `CALL <catalog>.system.<proc>(...)` for the
  * table-lifecycle operations that were API-only — the icelite analog of
  * Iceberg's stored procedures (`CALL system.rewrite_data_files(...)`,
  * `expire_snapshots`, `rollback_to_snapshot`, ...). SQL-only users — BI
  * tools, schedulers, notebooks without library access — get the full
  * maintenance lifecycle: compaction (bin-pack / sort / z-order), snapshot
  * expiry, rollback, tags, branch publish, and orphan-file GC. Each call
  * returns a one-row summary relation.
  */
object IceLiteProcedures {

  val Namespace: Array[String] = Array("system")

  private def p(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()
  private def pd(name: String, dt: DataType, dflt: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(dflt).build()

  private def s(row: InternalRow, i: Int): String = row.getUTF8String(i).toString
  private def row(vals: Seq[Any]): Seq[Any] = vals.map {
    case str: String => UTF8String.fromString(str)
    case v => v
  }
  /** One-row result (the common procedure shape). */
  private def out(vals: Any*): Seq[Seq[Any]] = Seq(row(vals))
  /** Multi-row result (listing procedures like ancestors_of). */
  private def rowsOut(rs: Seq[Seq[Any]]): Seq[Seq[Any]] = rs.map(row)

  def names: Seq[String] = defs.keys.toSeq.sorted

  /** The hive partition columns of a parquet directory, for `snapshot`:
    * the `col=value` segment names on the FIRST data file's path under
    * `source`, outermost-first — exactly the spec Spark's partition
    * discovery typed into `schema` (discovery appends them after the data
    * columns, and validates layout consistency while inferring). Column
    * names not present in the discovered schema are refused rather than
    * guessed; the partitioned add_files gate then re-validates every
    * file's segments against the created spec. Empty for a flat layout.
    */
  private[v2] def hivePartitionColsOf(spark: SparkSession, source: String,
      schema: StructType): Seq[String] = {
    val srcPath = new org.apache.hadoop.fs.Path(source)
    val fs = IceFs.of(srcPath, spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(srcPath) || fs.getFileStatus(srcPath).isFile) return Nil
    val it = fs.listFiles(srcPath, true)
    val first = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .find(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .getOrElse(return Nil)
    val root = fs.makeQualified(srcPath).toString
    val rel = fs.makeQualified(first.getPath).toString.stripPrefix(root)
    val cols = rel.split('/').iterator
      .filter(seg => seg.indexOf('=') > 0)
      .map(seg => seg.substring(0, seg.indexOf('=')))
      .toSeq
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"snapshot source $source carries a '$c=' directory segment that " +
        "partition discovery did not type — mixed or malformed hive layout"))
    // pin the invariant locally instead of relying on discovery's distant
    // side effect: discovery APPENDS partition columns after the data
    // columns in spec (nesting) order, so the first file's segment
    // sequence must be exactly the schema's trailing columns — a mismatch
    // means files disagree on nesting order (or the first file is not
    // representative) and a silent wrong spec would follow
    require(cols.isEmpty ||
        schema.fieldNames.takeRight(cols.length).sameElements(cols),
      s"snapshot source $source: first file's partition segments " +
        s"(${cols.mkString(", ")}) do not match the discovered schema's " +
        s"trailing partition columns " +
        s"(${schema.fieldNames.takeRight(cols.length).mkString(", ")}) — " +
        "inconsistent hive nesting across files; fix the layout")
    cols
  }

  def load(warehouse: String, name: String): UnboundProcedure =
    defs.getOrElse(name, throw new IllegalArgumentException(
      s"unknown icelite procedure '$name' (have: ${names.mkString(", ")})"))
      .apply(warehouse)

  private def cols(csv: String): Seq[String] =
    csv.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  private val defs: Map[String, String => UnboundProcedure] = Map(
    // rewrite_data_files: full rewrite by default; sort_by / zorder_by
    // select the clustered strategies (comma-separated column lists);
    // min_file_size_bytes > 0 switches to SELECTIVE binpack — only files
    // under the threshold rewrite, everything healthy is carried (the
    // O(small-file-debt) maintenance a 100 TB table actually schedules)
    "rewrite_data_files" -> (wh => new IceProc(wh, "rewrite_data_files",
      Seq(p("table", StringType), pd("target_files", IntegerType, "1"),
        pd("sort_by", StringType, "''"), pd("zorder_by", StringType, "''"),
        pd("min_file_size_bytes", LongType, "0"),
        // binpack scope: 'col=value[,col=value]' identity-partition match
        pd("partition_filter", StringType, "''")),
      StructType.fromDDL("table STRING, files_before INT, files_after INT"),
      (cat, in) => {
        val tbl = loadTable(cat, s(in, 0))
        val before = tbl.meta.currentSnapshot.map(sn => tbl.visibleFiles(sn).length).getOrElse(0)
        val minBytes = in.getLong(4)
        val pf = cols(s(in, 5)).map { kv =>
          val i = kv.indexOf('=')
          require(i > 0, s"partition_filter entry '$kv' is not col=value")
          kv.substring(0, i).trim -> kv.substring(i + 1).trim
        }.toMap
        if (minBytes > 0) {
          require(cols(s(in, 2)).isEmpty && cols(s(in, 3)).isEmpty,
            "min_file_size_bytes (binpack) does not combine with " +
              "sort_by/zorder_by — clustered rewrites are full rewrites")
          tbl.binpack(minBytes, in.getInt(1), pf)
        } else {
          require(pf.isEmpty,
            "partition_filter applies to binpack (min_file_size_bytes > 0) only")
          tbl.compact(in.getInt(1), cols(s(in, 2)), cols(s(in, 3)))
        }
        val after = tbl.visibleFiles(tbl.meta.currentSnapshot.get).length
        out(s(in, 0), before, after)
      })),
    // count-based by default; `older_than_ms => <epoch millis>` switches to
    // time-based expiry (Iceberg's older_than), with keep_last as the
    // retain-newest floor so an idle table never expires itself empty
    "expire_snapshots" -> (wh => new IceProc(wh, "expire_snapshots",
      Seq(p("table", StringType), pd("keep_last", IntegerType, "1"),
        pd("older_than_ms", LongType, "-1")),
      StructType.fromDDL("table STRING, expired INT, kept INT"),
      (cat, in) => {
        val tbl = loadTable(cat, s(in, 0))
        val before = tbl.snapshots.length
        val olderThan = in.getLong(2)
        if (olderThan >= 0L)
          tbl.expireSnapshotsOlderThan(olderThan, in.getInt(1))
        else tbl.expireSnapshots(in.getInt(1))
        val after = tbl.snapshots.length
        out(s(in, 0), before - after, after)
      })),
    "rollback_to_snapshot" -> (wh => new IceProc(wh, "rollback_to_snapshot",
      Seq(p("table", StringType), p("snapshot_id", LongType)),
      StructType.fromDDL("table STRING, current_snapshot_id BIGINT"),
      (cat, in) => {
        val tbl = loadTable(cat, s(in, 0)).rollbackTo(in.getLong(1))
        out(s(in, 0), tbl.meta.currentSnapshotId)
      })),
    "cherrypick_snapshot" -> (wh => new IceProc(wh, "cherrypick_snapshot",
      Seq(p("table", StringType), p("snapshot_id", LongType)),
      StructType.fromDDL("table STRING, source_snapshot_id BIGINT, current_snapshot_id BIGINT"),
      (cat, in) => {
        val tbl = loadTable(cat, s(in, 0)).cherryPick(in.getLong(1))
        out(s(in, 0), in.getLong(1), tbl.meta.currentSnapshotId)
      })),
    "create_tag" -> (wh => new IceProc(wh, "create_tag",
      Seq(p("table", StringType), p("tag", StringType), p("snapshot_id", LongType)),
      StructType.fromDDL("table STRING, tag STRING, snapshot_id BIGINT"),
      (cat, in) => {
        loadTable(cat, s(in, 0)).tag(s(in, 1), in.getLong(2))
        out(s(in, 0), s(in, 1), in.getLong(2))
      })),
    "fast_forward" -> (wh => new IceProc(wh, "fast_forward",
      Seq(p("table", StringType), p("ref", StringType)),
      StructType.fromDDL("table STRING, current_snapshot_id BIGINT"),
      (cat, in) => {
        val tbl = loadTable(cat, s(in, 0)).fastForward(s(in, 1))
        out(s(in, 0), tbl.meta.currentSnapshotId)
      })),
    // fold MOR delete debt by rewriting ONLY the affected data files
    "rewrite_position_deletes" -> (wh => new IceProc(wh, "rewrite_position_deletes",
      Seq(p("table", StringType)),
      StructType.fromDDL("table STRING, rewritten_files INT, folded_rows BIGINT"),
      (cat, in) => {
        val tbl = loadTable(cat, s(in, 0))
        val before = tbl.meta.currentSnapshot
          .map(sn => tbl.deletesOf(sn)).getOrElse(Nil)
        val affected = before.flatMap(_.dataFiles).distinct.length
        tbl.rewriteDeletes()
        out(s(in, 0), affected, before.map(_.rows).sum)
      })),
    // partition evolution for SQL-only operators: a pure metadata commit
    // changing the layout for FUTURE writes (IceTable.setPartitionSpec's
    // refusal semantics apply unchanged — rename-entangled sources and
    // unknown transforms abort). `spec` is an ARRAY of entries because
    // transform spellings carry commas (bucket(4, k)): CALL
    // cat.system.set_partition_spec('ns.tbl', array('bucket(4, k)',
    // 'days(ts)')); array() clears the layout back to unpartitioned.
    "set_partition_spec" -> (wh => new IceProc(wh, "set_partition_spec",
      Seq(p("table", StringType), p("spec", ArrayType(StringType))),
      StructType.fromDDL("table STRING, partition_spec STRING, previous_spec STRING"),
      (cat, in) => {
        val tbl = loadTable(cat, s(in, 0))
        val prev = tbl.meta.partitionBy
        val arr = in.getArray(1)
        val next = (0 until arr.numElements())
          .map(i => arr.getUTF8String(i).toString.trim).filter(_.nonEmpty)
        tbl.setPartitionSpec(next)
        out(s(in, 0), next.mkString(", "), prev.mkString(", "))
      })),
    // post-create sort-order declaration for SQL-only operators. The scan
    // REPORTS the declared order (downstream sorts elide), so declaring a
    // non-empty order over a non-empty table rewrites the data into it in
    // the same atomic commit (see IceTable.setSortOrder); array() clears
    // (metadata-only). `ALTER TABLE ... SET TBLPROPERTIES('sorted_by')`
    // stays refused — a declaration without the rewrite would be silently
    // wrong results.
    "set_sort_order" -> (wh => new IceProc(wh, "set_sort_order",
      Seq(p("table", StringType), p("order", ArrayType(StringType)),
        pd("target_files", IntegerType, "1")),
      StructType.fromDDL("table STRING, sort_order STRING, previous_order STRING"),
      (cat, in) => {
        val tbl = loadTable(cat, s(in, 0))
        val prev = tbl.meta.sortOrder
        val arr = in.getArray(1)
        val next = (0 until arr.numElements())
          .map(i => arr.getUTF8String(i).toString.trim).filter(_.nonEmpty)
        tbl.setSortOrder(next, in.getInt(2))
        out(s(in, 0), next.mkString(", "), prev.mkString(", "))
      })),
    // migrate an existing parquet directory into a NEW table in one call
    // (Iceberg's `snapshot` procedure): schema inferred from the files,
    // data imported BY REFERENCE through add_files — no copy, no rewrite,
    // the source stays caller-owned. A hive-partitioned layout KEEPS its
    // partitioning (round 15): Spark's partition discovery types the
    // `col=value` columns, the first data file's segment sequence names
    // the spec (outermost-first), and the partitioned add_files gate then
    // re-validates every file's layout — so the migrated table prunes on
    // day one exactly like the hive table did. Same refusal surface as
    // add_files; a failed import leaves no table behind (create + import
    // are one call, the inert-failed-DDL contract).
    "snapshot" -> (wh => new IceProc(wh, "snapshot",
      Seq(p("source", StringType), p("table", StringType)),
      StructType.fromDDL(
        "table STRING, imported_files BIGINT, imported_rows BIGINT, partitioned_by STRING"),
      (cat, in) => {
        val ident = s(in, 1)
        val parts = ident.split("\\.", 2)
        require(parts.length == 2,
          s"procedure table argument must be '<namespace>.<table>', got '$ident'")
        val src = s(in, 0)
        val schema = SparkSession.active.read.parquet(src).schema
        val partitionBy = hivePartitionColsOf(
          SparkSession.active, src, schema)
        val tbl = cat.createTable(parts(0), parts(1), schema,
          partitionBy = partitionBy)
        try tbl.addFiles(src)
        catch { case e: Throwable => cat.dropTable(parts(0), parts(1)); throw e }
        val snap = tbl.meta.currentSnapshot.get
        out(ident, snap.addedFileCount, snap.addedRows,
          partitionBy.mkString(", "))
      })),
    // import existing parquet files by reference (no rewrite, no copy):
    // footer-derived manifest entries, caller keeps ownership — see
    // IceTable.addFiles for the refusal surface
    "add_files" -> (wh => new IceProc(wh, "add_files",
      Seq(p("table", StringType), p("source", StringType)),
      StructType.fromDDL("table STRING, added_files BIGINT, added_rows BIGINT"),
      (cat, in) => {
        val tbl = loadTable(cat, s(in, 0))
        tbl.addFiles(s(in, 1))
        val snap = tbl.meta.currentSnapshot.get
        out(s(in, 0), snap.addedFileCount, snap.addedRows)
      })),
    // collapse the current snapshot's manifest delta chain into one full
    // document (see IceTable.rewriteManifests): commit IO rides deltas,
    // this bounds the chain readers resolve. No-op on an already-full
    // manifest; collapsed_chain reports the depth rolled up.
    "rewrite_manifests" -> (wh => new IceProc(wh, "rewrite_manifests",
      Seq(p("table", StringType)),
      StructType.fromDDL("table STRING, collapsed_chain INT"),
      (cat, in) => {
        val tbl = loadTable(cat, s(in, 0))
        out(s(in, 0), tbl.rewriteManifests())
      })),
    // Iceberg's compute_table_stats (ANALYZE): one column-pruned scan of
    // the current snapshot's live rows -> table-level NDV sketches as a
    // pure-metadata commit, snapshot-scoped (see IceTable.computeTableStats
    // for the staleness contract). `columns` narrows the sketch set
    // (comma list; default every sketchable column).
    "compute_table_stats" -> (wh => new IceProc(wh, "compute_table_stats",
      Seq(p("table", StringType), pd("columns", StringType, "''")),
      StructType.fromDDL(
        "table STRING, snapshot_id BIGINT, columns STRING"),
      (cat, in) => {
        val tbl = loadTable(cat, s(in, 0))
        val cols = s(in, 1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
        // report the snapshot the entry was STAMPED with — never a re-read
        // head that a concurrent commit could have moved past the stamp
        val (stampedSnapshot, sketched) = tbl.computeTableStats(cols)
        out(s(in, 0), stampedSnapshot, sketched.mkString(","))
      })),
    "remove_orphan_files" -> (wh => new IceProc(wh, "remove_orphan_files",
      Seq(p("table", StringType),
        pd("older_than_ms", LongType, IceTable.DefaultOrphanGraceMs.toString)),
      StructType.fromDDL("table STRING, deleted_files BIGINT"),
      (cat, in) => {
        val deleted = loadTable(cat, s(in, 0)).removeOrphanFiles(in.getLong(1))
        out(s(in, 0), deleted.length.toLong)
      })),
    // branch lifecycle spellings (Iceberg's create_branch / drop_branch /
    // drop_tag): create pins a BRANCH ref (default: the current snapshot)
    // for appendToRef staging; the drop spellings are kind-checked — a
    // drop_branch can never remove a tag's expiry pin, and vice versa
    "create_branch" -> (wh => new IceProc(wh, "create_branch",
      Seq(p("table", StringType), p("branch", StringType),
        pd("snapshot_id", LongType, "-1")),
      StructType.fromDDL("table STRING, branch STRING, snapshot_id BIGINT"),
      (cat, in) => {
        val tbl = loadTable(cat, s(in, 0))
        val sid =
          if (in.getLong(2) >= 0) in.getLong(2) else tbl.meta.currentSnapshotId
        tbl.branch(s(in, 1), sid)
        out(s(in, 0), s(in, 1), sid)
      })),
    "drop_branch" -> (wh => new IceProc(wh, "drop_branch",
      Seq(p("table", StringType), p("branch", StringType)),
      StructType.fromDDL("table STRING, branch STRING"),
      (cat, in) => {
        loadTable(cat, s(in, 0)).dropBranch(s(in, 1))
        out(s(in, 0), s(in, 1))
      })),
    "drop_tag" -> (wh => new IceProc(wh, "drop_tag",
      Seq(p("table", StringType), p("tag", StringType)),
      StructType.fromDDL("table STRING, tag STRING"),
      (cat, in) => {
        loadTable(cat, s(in, 0)).dropTag(s(in, 1))
        out(s(in, 0), s(in, 1))
      })),
    // time-based rollback: restores the latest ANCESTOR at or before the
    // timestamp (lineage-walked — an abandoned branch is unreachable by
    // time, only by id), Iceberg's rollback_to_timestamp
    "rollback_to_timestamp" -> (wh => new IceProc(wh, "rollback_to_timestamp",
      Seq(p("table", StringType), p("timestamp_ms", LongType)),
      StructType.fromDDL("table STRING, current_snapshot_id BIGINT"),
      (cat, in) => {
        val tbl = loadTable(cat, s(in, 0)).rollbackToTimestamp(in.getLong(1))
        out(s(in, 0), tbl.meta.currentSnapshotId)
      })),
    // move the head to ANY logged snapshot, ancestor or not (Iceberg's
    // set_current_snapshot — the deliberate escape hatch that CAN reach an
    // abandoned branch, unlike the rollback spellings' intent)
    "set_current_snapshot" -> (wh => new IceProc(wh, "set_current_snapshot",
      Seq(p("table", StringType), p("snapshot_id", LongType)),
      StructType.fromDDL("table STRING, current_snapshot_id BIGINT"),
      (cat, in) => {
        val tbl = loadTable(cat, s(in, 0)).rollbackTo(in.getLong(1))
        out(s(in, 0), tbl.meta.currentSnapshotId)
      })),
    // publish a staged WAP snapshot by its wap.id summary (Iceberg's
    // publish_changes): metadata-only cherry-pick of the matching staged
    // snapshot onto the current head; double publish / unknown id refuse
    "publish_changes" -> (wh => new IceProc(wh, "publish_changes",
      Seq(p("table", StringType), p("wap_id", StringType)),
      StructType.fromDDL(
        "table STRING, staged_snapshot_id BIGINT, current_snapshot_id BIGINT"),
      (cat, in) => {
        val tbl = loadTable(cat, s(in, 0))
        val staged = tbl.meta.snapshots
          .filter(_.summary.get("wap.id").contains(s(in, 1)))
        tbl.publishChanges(s(in, 1))
        out(s(in, 0), staged.head.snapshotId, tbl.meta.currentSnapshotId)
      })),
    // the lineage listing (Iceberg's ancestors_of): the parent-pointer
    // chain of the given snapshot (default: current head), newest first —
    // metadata-sized rows, zero data IO
    "ancestors_of" -> (wh => new IceProc(wh, "ancestors_of",
      Seq(p("table", StringType), pd("snapshot_id", LongType, "-1")),
      StructType.fromDDL("snapshot_id BIGINT, timestamp_ms BIGINT"),
      (cat, in) => {
        val tbl = loadTable(cat, s(in, 0))
        val from =
          if (in.getLong(1) >= 0) in.getLong(1) else tbl.meta.currentSnapshotId
        require(from == 0L || tbl.meta.snapshot(from).isDefined,
          s"no snapshot $from in ${s(in, 0)}")
        rowsOut(tbl.meta.ancestorsOf(from)
          .map(a => Seq[Any](a.snapshotId, a.timestampMs)))
      })),
    // register the CDC window as a named temp view (Iceberg's
    // create_changelog_view): the same bounded change-replay plan the
    // icelite_changes TVF expands to, handed to SQL consumers as a view
    // name (Iceberg's return contract). Default window = full history;
    // default name = <table>_changes.
    "create_changelog_view" -> (wh => new IceProc(wh, "create_changelog_view",
      Seq(p("table", StringType), pd("changelog_view", StringType, "''"),
        pd("start_snapshot_id", LongType, "0"),
        pd("end_snapshot_id", LongType, "-1")),
      StructType.fromDDL("changelog_view STRING"),
      (cat, in) => {
        val tbl = loadTable(cat, s(in, 0))
        val view =
          if (s(in, 1).nonEmpty) s(in, 1)
          else s"${s(in, 0).split("\\.", 2)(1)}_changes"
        val to = if (in.getLong(3) >= 0) Some(in.getLong(3)) else None
        tbl.changelog(in.getLong(2), to).createOrReplaceTempView(view)
        out(view)
      })))

  private def loadTable(cat: IceCatalog, ident: String): IceTable = {
    val parts = ident.split("\\.", 2)
    require(parts.length == 2,
      s"procedure table argument must be '<namespace>.<table>', got '$ident'")
    cat.loadTable(parts(0), parts(1))
  }
}

/** One icelite procedure: self-binding (parameter types are static) and
  * side-effecting; `call` runs the table operation and yields a summary
  * relation (one row for maintenance ops, many for listings) as a
  * LocalScan.
  */
private[v2] class IceProc(
    warehouse: String, procName: String,
    params: Seq[ProcedureParameter], outSchema: StructType,
    body: (IceCatalog, InternalRow) => Seq[Seq[Any]])
    extends UnboundProcedure with BoundProcedure {

  override def name(): String = procName
  override def description(): String = s"icelite maintenance procedure $procName"
  override def bind(inputType: StructType): BoundProcedure = this
  override def parameters(): Array[ProcedureParameter] = params.toArray
  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): util.Iterator[Scan] = {
    val cat = new IceCatalog(SparkSession.active, warehouse)
    val rows = body(cat, input)
    util.List.of[Scan](new IceProcResult(outSchema, rows)).iterator()
  }
}

private[v2] class IceProcResult(schema: StructType, resultRows: Seq[Seq[Any]])
    extends LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] =
    resultRows.map(r => new GenericInternalRow(r.toArray): InternalRow).toArray
}
