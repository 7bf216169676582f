package graft.icelite

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileSystem, Path}
import java.nio.charset.StandardCharsets

/** Per-data-file manifest entry: row count, byte size, and per-column
  * min / max / null-count statistics for top-level primitive columns.
  *
  * The inline analog of an Iceberg manifest-file entry (the reference's
  * PyIceberg tables carry the same stats per `DataFile`): these stats are
  * what make file-granular planning possible — scan-time file skipping from
  * pushed predicates and copy-on-write upserts that rewrite only files whose
  * key range intersects the source. Values are stored as strings keyed by
  * column name and re-parsed against the declared schema when compared, so
  * the metadata JSON stays engine-portable. At 100 TB these entries would
  * live in separate manifest files rather than inline JSON; the planning
  * logic is unchanged.
  */
final case class FileStat(
    path: String,
    rows: Long,
    bytes: Long,
    min: Map[String, String] = Map.empty,
    max: Map[String, String] = Map.empty,
    // null counts as decimal strings: Jackson round-trips Map[String, Long]
    // values as Integer when they fit, which explodes on Scala unboxing
    nulls: Map[String, String] = Map.empty,
    // exact per-file column sums (integral columns, non-null values only),
    // as decimal strings. Parquet footers carry min/max/nulls but no sums,
    // so only the DSv2 row-loop writer can produce these without re-reading
    // data — files written by other paths simply lack them (absent = no SUM
    // pushdown for scans touching the file). Beyond Iceberg's own manifest
    // stats: turns "SELECT day, SUM(qty)" on a 100 TB table into a
    // metadata read.
    sums: Map[String, String] = Map.empty,
    // per-file HLL NDV sketches (datasketches HllSketch lgK=12, compact
    // bytes, base64) for long/int/string/date/timestamp columns — the
    // puffin-theta-sketch analog, recorded by the DSv2 row-loop writer for
    // free alongside `sums` AND by the table-API write funnel's read-back
    // pass (Ndv.sketchFiles), so maintenance rewrites keep coverage.
    // Sketches UNION losslessly across files, so a table-level
    // approx-distinct answers from manifests alone (zero data IO) at any
    // table size; files that still lack one (pre-upgrade, or gate-scoped
    // out) make the table-level estimate refuse rather than undercount.
    ndv: Map[String, String] = Map.empty,
    // per-file Bloom filters (datasketches BloomFilter, base64) for OPT-IN
    // point-lookup columns (`write.bloom.columns` table property /
    // `graft.bloom.columns` conf): min/max ranges prove nothing on a
    // randomly-distributed key (every file spans the whole domain), but a
    // bloom answers "is key k definitely absent from this file?" at plan
    // time — `WHERE id = k` on a 100 TB table then plans ~1 file instead
    // of all of them (Databricks' bloom-filter-index role, kept in the
    // manifest). False positives only cost an extra scanned file, never
    // correctness; an overfull filter degrades to never-prunes. Sized by
    // `write.bloom.capacity` (default 50k distinct @ 1% FPP ~ 60 KB) —
    // like every stat here, at 100 TB these live in manifest FILES, not
    // inline JSON.
    bloom: Map[String, String] = Map.empty,
    // The snapshot era this file joined the table at, recorded ONLY when
    // the path itself cannot carry it (add_files / snapshot imports:
    // foreign paths have no `data/snap-N` segment, so Renames.eraOf reads
    // them as "newest" forever). -1 = derive from the path, the native
    // case. Era scopes partition-SPEC resolution, RENAME resolution, and
    // equality-delete application — without a recorded era, a post-import
    // spec change or rename would silently serve NULLs from imported
    // files, and a post-import MOR delete would never reach their rows.
    // Additive (pre-upgrade manifests lack the field and default to -1,
    // preserving their exact prior behavior).
    era: Long = -1L,
    // Raw hive partition values RECORDED on the entry at import time
    // (add_files), keyed by identity column, values in the directory
    // encoding (__HIVE_DEFAULT_PARTITION__ = null). Foreign paths may
    // carry misleading `col=value` segments ABOVE the import root (e.g. a
    // source living under /data/k=test/...), so for imported entries the
    // values parsed RELATIVE to the import root at import time are
    // authoritative and readers never re-parse the absolute path — the
    // manifest-carries-partition-data shape of an Iceberg DataFile entry.
    // Empty + era = -1 means a native file: the path layout is
    // table-owned and parses safely. Additive like `era`.
    partVals: Map[String, String] = Map.empty) {

  /** Effective era: the recorded one when present, else path-derived. */
  def eraOrPath: Long = if (era >= 0L) era else Renames.eraOf(path)

  /** Raw hive partition values for `cols`: the values RECORDED at import
    * time for imported entries (era >= 0 — recorded even when EMPTY, so an
    * import into an unpartitioned/transform-only spec can never pick up a
    * spurious `col=value` ancestor segment later), else parsed from the
    * table-owned path. EVERY reader binding partition/transform values
    * from a FileStat must go through here, never PartValues.parse(f.path).
    */
  def partRaw(cols: Seq[String]): Map[String, Option[String]] =
    if (era >= 0L) PartValues.fromRecorded(partVals, cols)
    else PartValues.parse(path, cols)

  def nullCount(c: String): Option[Long] = nulls.get(c).flatMap(_.toLongOption)

  def sumOf(c: String): Option[BigInt] =
    sums.get(c).flatMap(s => scala.util.Try(BigInt(s)).toOption)

  def ndvSketch(c: String): Option[Array[Byte]] =
    ndv.get(c).flatMap(s =>
      scala.util.Try(java.util.Base64.getDecoder.decode(s)).toOption)

  def bloomBytes(c: String): Option[Array[Byte]] =
    bloom.get(c).flatMap(s =>
      scala.util.Try(java.util.Base64.getDecoder.decode(s)).toOption)
}

/** One immutable table version.
  *
  * Mirrors the role of an Iceberg snapshot as used by the reference
  * (`components/ex-iceberg/src/component.py:148-157` lists id+timestamp;
  * `wr/src/component.py:101-110` commits one per write): a snapshot owns the
  * *complete* set of data directories visible at that version. Appends carry
  * forward the parent's directories plus one new one; replace/upsert point
  * only at their own rewritten directory. Directories are immutable once
  * committed, so a snapshot's file set never changes after commit — that is
  * what makes time travel (`snapshot_id` scan pin, `ex/src/component.py:38`)
  * a pure metadata operation.
  *
  * Snapshot ids are sequential per table (1, 2, ...) — deterministic across
  * runs, unlike the reference's random ids, which keeps golden tests stable.
  */
final case class SnapshotMeta(
    snapshotId: Long,
    timestampMs: Long,
    operation: String, // append | replace | upsert | compact
    // data directories / added-file paths visible at this snapshot. Like
    // `files`, TRANSIENT in new metadata: both lists grow with table history
    // (dataDirs is cumulative across appends, addedFiles is O(files added)),
    // so MetaIo.commit moves them into the external manifest document and
    // blanks them here — the version log's per-snapshot entry stays O(1).
    // Non-empty only in memory (pre-commit) or on pre-upgrade metadata;
    // read through FileStats.dataDirsOf / FileStats.addedPathsOf.
    dataDirs: Seq[String],
    addedFiles: Seq[String],
    addedRows: Long,
    totalRows: Long,
    // O(1) inline count of files added by this snapshot (the `.snapshots`
    // view and streaming admission control need the COUNT without touching
    // manifests); -1 on pre-upgrade metadata — fall back to addedFiles.
    addedFileCount: Long = -1L,
    // O(1) inline byte total of the files added by this snapshot — byte-based
    // streaming admission control stays metadata-only per pending snapshot
    // instead of scanning each one's full visible manifest per trigger.
    // -1 on pre-upgrade metadata: FileStats.addedBytes falls back there.
    addedByteCount: Long = -1L,
    // O(1) inline counts of the files / outstanding delete files VISIBLE at
    // this snapshot. Together with addedFileCount they make the changelog's
    // non-rewriting proof metadata-only: a snapshot kept every parent file
    // iff totalFileCount == parent.totalFileCount + addedFileCount (carried
    // is always a subset of the parent's visible set, so equal counts mean
    // equal sets), and — once non-rewriting is established, deletes only
    // ever accumulate — it committed NEW delete files iff deleteFileCount
    // grew. -1 on pre-upgrade metadata: readers fall back to the manifest.
    totalFileCount: Long = -1L,
    deleteFileCount: Long = -1L,
    // schema as of this snapshot — replace() may change it, and a
    // time-traveling scan must read old files with their own schema.
    // Empty on pre-upgrade metadata: readers fall back to the table schema.
    schemaDdl: String = "",
    // complete manifest of data files visible at this snapshot (not just the
    // added ones) with their column stats. Scans plan from this list — never
    // from directory listings — so a failed/speculative task's orphaned
    // output in a data dir is invisible by construction. TRANSIENT in new
    // metadata: MetaIo.commit moves it to an external manifest file and
    // leaves `manifestFile` pointing at it, so the version log stays
    // O(snapshots), not O(snapshots x files). Non-empty only in memory
    // (pre-commit) or on pre-upgrade metadata.
    files: Seq[FileStat] = Nil,
    // absolute path of the external manifest file holding this snapshot's
    // complete FileStat list; written once at commit and immutable after
    // (snapshots never change). "" on pre-upgrade metadata — readers then
    // use the inline `files` or degrade to listing `dataDirs`.
    manifestFile: String = "",
    // outstanding position-delete files visible at this snapshot
    // (merge-on-read row-level deletes). TRANSIENT like `files`:
    // externalized into the manifest document at commit.
    deletes: Seq[DeleteStat] = Nil,
    // "<queryId>/<epochId>" for snapshots committed by the native streaming
    // sink — the idempotency marker that makes epoch replays after driver
    // recovery no-ops instead of duplicate appends. "" for batch commits.
    streamCommit: String = "",
    // the snapshot this one committed AGAINST (the table's current — or,
    // for branch appends, the ref head — at commit time). 0 = first
    // snapshot; -1 = pre-upgrade metadata (readers fall back to
    // previous-in-log). Rollbacks move the current POINTER without a new
    // snapshot, so later writes branch: parentId is what makes the real
    // lineage (`.history`'s is_current_ancestor) reconstructible.
    parentId: Long = -1L,
    // free-form snapshot summary (Iceberg's snapshot summary map). The
    // engine interprets "wap.id" — the staged-write marker stageWap
    // stamps and publish_changes cherry-picks by. Additive: snapshots
    // written before the field exists deserialize to empty (the same
    // old-metadata contract as refTypes).
    summary: Map[String, String] = Map.empty)

/** Per-data-file slice of one position-delete file: `rows` positions of
  * `path` are deleted. Keeping counts PER data file lets a copy-on-write
  * rewrite drop exactly the entries of the files it replaced while row
  * accounting stays exact for the carried rest.
  */
final case class DeleteFileEntry(path: String, rows: Long)

/** One merge-on-read delete file — either of Iceberg v2's two kinds.
  *
  * POSITION delete (`eqCols` empty): a parquet file of
  * `(file_path STRING, pos BIGINT)` rows marking which absolute row
  * positions of which data files are deleted. `appliesTo` lists the
  * affected data files (manifest-normalized paths) with per-file position
  * counts, so planning attaches the file only to the partitions it names.
  *
  * EQUALITY delete (`eqCols` non-empty): a parquet file of key VALUES over
  * `eqCols`; a row of any data file is deleted when its key tuple appears
  * in the file. Equality deletes are what make write-without-read row-level
  * ops possible (streaming CDC upsert): the writer never touches the
  * target. Scope follows Iceberg's sequence-number rule re-expressed over
  * file eras: the delete applies to data files whose era
  * ([[Renames.eraOf]]) is strictly BEFORE `seqId` — rows committed in the
  * same snapshot or later are never affected — except files under
  * `eqExemptDirs` (the data directory committed alongside the delete in
  * its own snapshot: a commit retry may raise `seqId` past the write-time
  * era of its own data). `eqMin`/`eqMax` carry the delete file's own key
  * bounds (FileStats string encoding), so planning skips data files whose
  * stat ranges provably miss every deleted key.
  *
  * Scans apply both kinds at read; `compact`/`replace` fold them away.
  */
final case class DeleteStat(
    path: String,
    appliesTo: Seq[DeleteFileEntry],
    eqCols: Seq[String] = Nil,
    eqRows: Long = 0L,
    seqId: Long = 0L,
    eqExemptDirs: Seq[String] = Nil,
    eqMin: Map[String, String] = Map.empty,
    eqMax: Map[String, String] = Map.empty,
    // The delete's DISTINCT key values per key column, stat-encoded and
    // inlined when the key set is small (<= EqDeleteIo.InlineKeyCap — the
    // CDC-tombstone shape): at plan time each value probes a data file's
    // min/max range and opt-in bloom, and a file that provably contains
    // NONE of them is exempt from this delete and stays on the columnar
    // read path (range overlap alone demotes every file when keys are
    // scattered). Probes are necessary-condition pruning: bloom false
    // positives or absent stats only fail to exempt. Large key sets leave
    // this empty and fall back to the range test.
    eqKeys: Map[String, Seq[String]] = Map.empty) {

  def isEquality: Boolean = eqCols.nonEmpty
  /** Exactly-counted deleted rows: position entries only — equality
    * deletes' matched-row count is unknown until read (their `eqRows` is
    * the count of DELETE KEYS, not of matched rows), so they deliberately
    * contribute 0 here and row accounting treats totals as an upper bound
    * until a rewrite folds them (Iceberg's total-records semantics).
    */
  def rows: Long = appliesTo.map(_.rows).sum
  def dataFiles: Seq[String] = appliesTo.map(_.path)
}

/** The external per-snapshot manifest document: the snapshot's complete
  * [[FileStat]] list plus the other O(table-history) facts that used to
  * live inline in the version log — the paths ADDED by this snapshot, the
  * data directories visible at it, and the snapshot's outstanding
  * position-delete files. One immutable file per snapshot, written at
  * commit; the version log itself stays O(snapshots). Pre-upgrade
  * manifests are a bare JSON array of FileStat (files only, added/dirs
  * still inline in the snapshot) — [[MetaIo.readManifestDoc]] sniffs the
  * format.
  *
  * DELTA CHAINS (round 14). A snapshot's visible file list is almost
  * always its predecessor's list plus a few added files — yet a full
  * manifest per snapshot makes every commit serialize O(total files) of
  * FileStat JSON (stats, sketches, blooms): appending one file to a
  * million-file table would rewrite ~1 GB of metadata, per commit, forever.
  * So when `base` is non-empty this document stores only the CHANGE in the
  * `files` dimension against the base manifest: `files` holds just the
  * entries added (or replaced) by this snapshot, `removedPaths` the exact
  * path spellings dropped from the base list, and resolution is
  * `base.files.filterNot(removed) ++ files` — the committer VERIFIES at
  * write time that this replay reproduces its in-memory sequence
  * bit-for-bit and falls back to a full document whenever it does not
  * (rewrites, reorders, anything surprising), so a delta can never change
  * what any reader sees. `chainLen` bounds resolution depth: once a chain
  * would exceed the table's `manifest.chain-cap` (default 32, 0 disables
  * deltas) the commit writes a full document, amortizing the O(files)
  * rewrite over cap commits. `addedPaths`, `dataDirs` and `deletes` stay
  * COMPLETE in every document — they are O(snapshot delta) / O(dirs) /
  * O(outstanding deletes) small, and keeping them self-contained is what
  * lets bounded incremental readers (changelog windows, streaming
  * triggers) keep reading ONLY their window's manifests
  * ([[MetaIo.readManifestDocShallow]]) instead of resolving chains into
  * history they don't need.
  */
final case class ManifestDoc(
    files: Seq[FileStat],
    addedPaths: Seq[String] = Nil,
    dataDirs: Seq[String] = Nil,
    deletes: Seq[DeleteStat] = Nil,
    base: String = "",
    removedPaths: Seq[String] = Nil,
    chainLen: Int = 0)

/** One metadata-only column rename: files added by snapshots with id
  * `<= cutoffSnapshotId` physically carry `from` where the logical schema
  * (as of after the rename) says `to`. The event log is ordered oldest
  * first; [[Renames.physicalName]] walks it newest-first to map a logical
  * column to the name to request from a file of a given era — the
  * name-based analog of Iceberg's field-id indirection.
  */
final case class ColumnRename(cutoffSnapshotId: Long, from: String, to: String)

/** One metadata-only column ADDITION: files of eras `<= cutoffSnapshotId`
  * were written before the column existed and physically lack it (reads
  * serve NULL). Recorded so metadata-only consumers — the NDV estimate
  * above all — can prove "this file cannot contribute values for this
  * column" without touching a footer: a pre-add file is a zero-contribution
  * no-op for the column's distinct count, not a refusal. Same cutoff
  * convention as [[ColumnRename]]: the event applies to a file iff
  * `cutoffSnapshotId >= eraOf(file)`.
  */
final case class ColumnAdd(cutoffSnapshotId: Long, name: String)

/** One TABLE-LEVEL statistics entry (the Puffin-stats analog of Iceberg's
  * `compute_table_stats` procedure): per-column HLL sketches computed by
  * ONE scan of the LIVE rows of exactly `snapshotId`, committed as pure
  * metadata. Two deliberate differences from the per-file sketch union
  * ([[FileStat.ndv]]):
  *  - live-row semantics — MOR delete debt IS subtracted, because the
  *    sketch saw the post-delete scan, where the file union counts written
  *    rows (a delete cannot un-union a sketch);
  *  - snapshot-scoped freshness — the entry is served ONLY while
  *    `snapshotId` is still the current snapshot (Iceberg stats carry their
  *    snapshot id and go stale the same way); any later commit makes the
  *    consumer refuse again rather than serve a count that no longer
  *    describes the table.
  * `sketches` maps logical column names (current era — the scan already
  * applied rename resolution) to base64 compact HLL bytes, plus the
  * [[FileStats.NdvVersionKey]] scheme marker under the same rules as the
  * per-file map.
  */
final case class TableStatsEntry(snapshotId: Long,
    sketches: Map[String, String] = Map.empty)

/** One partition-spec evolution event: files written in eras at or before
  * `cutoffSnapshotId` were laid out with `cols` as their hive partition
  * columns. The CURRENT spec lives in [[TableMeta.partitionBy]]; this ledger
  * only records what older file eras look like — the per-file-era resolution
  * (Iceberg's spec-id indirection, keyed by directory era instead).
  */
final case class PartSpecChange(cutoffSnapshotId: Long, cols: Seq[String])

object Renames {

  private val SnapDir = """data/snap-(\d+)(?:-[0-9a-f]+)?(?:-e\d+)?/""".r.unanchored

  /** The snapshot era a data file was written in (parsed from its
    * `data/snap-N/` directory; appends add a writer-unique `-hex` suffix
    * for optimistic commit retry, and the native streaming sink a further
    * `-e<epoch>`). Unknown layouts map to Long.MaxValue = "newest" (no
    * renames applied), which is only reachable for legacy paths that
    * predate every rename anyway.
    */
  def eraOf(path: String): Long = path match {
    case SnapDir(n) => n.toLong
    case _ => Long.MaxValue
  }

  /** Physical column name to request from a file of `era` for a logical
    * column named as of the CURRENT schema (or any pinned-era schema:
    * events newer than the pinned era never match its names).
    */
  def physicalName(renames: Seq[ColumnRename], logical: String, era: Long): String =
    renames.reverseIterator.foldLeft(logical) { (name, r) =>
      if (r.cutoffSnapshotId >= era && name == r.to) r.from else name
    }

  /** Physical names for every field of `schema`, or None when the era needs
    * no mapping (the overwhelmingly common case — avoids per-file overhead).
    */
  def physicalNames(renames: Seq[ColumnRename],
      schema: org.apache.spark.sql.types.StructType, era: Long): Option[Seq[String]] = {
    if (renames.isEmpty) return None
    val mapped = schema.fieldNames.toSeq.map(physicalName(renames, _, era))
    if (mapped == schema.fieldNames.toSeq) None else Some(mapped)
  }

  /** Every column name touched by any rename event — filters on these must
    * not become parquet row-group predicates (old files carry the other
    * name, and parquet-mr fails reads over predicates on missing columns).
    */
  def touchedNames(renames: Seq[ColumnRename]): Set[String] =
    renames.flatMap(r => Seq(r.from, r.to)).toSet
}

/** Table metadata document, stored as `metadata/v{version}.json`.
  *
  * The schema is kept as a Spark DDL string (`StructType.toDDL` /
  * `StructType.fromDDL`) — the Spark-native equivalent of the Iceberg schema
  * JSON the reference derives from the first Arrow batch
  * (`wr/src/component.py:102-105,121-124`).
  */
final case class TableMeta(
    formatVersion: Int,
    namespace: String,
    name: String,
    schemaDdl: String,
    partitionBy: Seq[String],
    currentSnapshotId: Long, // 0 = empty table, no snapshot yet
    snapshots: Seq[SnapshotMeta],
    version: Int,
    // metadata-only schema evolution ledgers (empty on pre-evolution tables):
    // ordered column-rename events, and names that once existed and were
    // dropped or renamed away — re-adding those is refused, because old
    // files still physically carry data under them and a name-based read
    // would resurrect the wrong column.
    renames: Seq[ColumnRename] = Nil,
    retiredColumns: Seq[String] = Nil,
    // column-ADDITION ledger (see ColumnAdd): which file eras predate each
    // added column. Purely additive metadata — scans don't need it (parquet
    // fills missing columns with NULL), but the manifest NDV estimate does.
    addedColumns: Seq[ColumnAdd] = Nil,
    // columns whose declared type was ever WIDENED (int->long, float->double
    // ...): files written before the change physically carry the narrower
    // type. The vectorized parquet reader upcasts transparently, but typed
    // parquet row-group predicates on these columns would be rejected by
    // parquet-mr's schema validator against old files — scans must keep
    // such filters file-level only (same hazard class as INT96 timestamps).
    widenedColumns: Seq[String] = Nil,
    // named refs (Iceberg tags): name -> pinned snapshot id. A tagged
    // snapshot is immune to expiry, so "the v1 training set" stays
    // reproducible however much history churns after it. Names must contain
    // a non-digit so `VERSION AS OF` can route numerics to ids and
    // everything else to refs.
    refs: Map[String, Long] = Map.empty,
    // ref KIND ledger ("tag" | "branch"), keyed like `refs`: tags pin a
    // snapshot forever, branches are refs a write has advanced
    // (appendToRef). Purely informational for readers (`.refs` serves it);
    // additive — refs created before the field exists serve NULL rather
    // than a fabricated kind.
    refTypes: Map[String, String] = Map.empty,
    // partition evolution ledger (ordered by cutoff): which hive layout each
    // FILE ERA was written with. Empty = the table always had `partitionBy`.
    partitionSpecs: Seq[PartSpecChange] = Nil,
    // declared table sort order (Iceberg's write sort order, made a hard
    // contract): set at createTable only, ENFORCED by every data-writing
    // path (API writes sort within tasks; DSv2 writes require the ordering
    // from Spark), so the scan can REPORT it (SupportsReportOrdering) and
    // downstream sort-merge joins / aggregations skip their sorts. Renames
    // carry it along; dropping a sort column (or a replace() whose schema
    // loses one) truncates/clears it — files from before the change are
    // still sorted, so reads stay sound either way.
    sortOrder: Seq[String] = Nil,
    // free-form table properties (TBLPROPERTIES): the behavioral knobs a
    // table carries with it. The engine interprets `write.delete.mode` /
    // `write.update.mode` / `write.merge.mode` ('copy-on-write' default,
    // 'merge-on-read' = Iceberg v2 position-delete DML); everything else is
    // stored and served back verbatim.
    properties: Map[String, String] = Map.empty,
    // table-level statistics ledger (see TableStatsEntry): newest-last,
    // at most one entry per snapshot; compute_table_stats appends/replaces,
    // consumers serve only the entry matching the CURRENT snapshot.
    tableStats: Seq[TableStatsEntry] = Nil) {

  /** The row-level write mode for one DML command ("delete" | "update" |
    * "merge"): Iceberg's per-command `write.<cmd>.mode` property.
    */
  def writeMode(cmd: String): String =
    properties.getOrElse(s"write.$cmd.mode", "copy-on-write")

  /** The partition spec files of `era` were written with. */
  def specFor(era: Long): Seq[String] =
    partitionSpecs.find(_.cutoffSnapshotId >= era).map(_.cols)
      .getOrElse(partitionBy)

  /** Every column that served as a partition column in ANY era. Reads must
    * treat these conservatively (e.g. no parquet row-group predicates:
    * files from eras where the column lived in directory names do not
    * store it, and a predicate on a missing column fails the whole read).
    */
  def everPartitionCols: Set[String] =
    partitionBy.toSet ++ partitionSpecs.flatMap(_.cols)

  /** Ref target as a real Long. Jackson round-trips `Map[String, Long]`
    * values as Integer when they fit (the FileStat trap), so direct
    * `refs(name)` unboxing would ClassCastException on metadata read from
    * JSON — always go through these accessors.
    */
  def refSnapshot(name: String): Option[Long] =
    refs.asInstanceOf[Map[String, Any]].get(name)
      .map(_.asInstanceOf[Number].longValue)

  def refIds: Set[Long] =
    refs.asInstanceOf[Map[String, Any]].values
      .map(_.asInstanceOf[Number].longValue).toSet

  def currentSnapshot: Option[SnapshotMeta] =
    snapshots.find(_.snapshotId == currentSnapshotId)

  def snapshot(id: Long): Option[SnapshotMeta] =
    snapshots.find(_.snapshotId == id)

  /** The snapshot a commit was made against: the recorded parentId, or —
    * for pre-upgrade metadata that never recorded one (-1) — the
    * numerically previous snapshot in the log (ids are monotone, and
    * before parentId existed no rollback-branching metadata could have
    * been written, so previous-in-log IS the parent there). 0 = root.
    */
  def parentOf(s: SnapshotMeta): Long =
    if (s.parentId >= 0) s.parentId
    else snapshots.map(_.snapshotId).filter(_ < s.snapshotId)
      .maxOption.getOrElse(0L)

  /** The ancestor chain of `id` (that snapshot first, root last), walking
    * parent pointers — NOT the whole snapshot log: after a rollback, later
    * "future" snapshots remain in the log but are NOT ancestors of the
    * restored head, and attribution/lineage semantics (`.entries`,
    * `.history`, rollback_to_timestamp, ancestors_of) must never credit an
    * abandoned branch. Cycle-guarded (corrupt metadata stops, not hangs).
    */
  def ancestorsOf(id: Long): Seq[SnapshotMeta] = {
    val byId = snapshots.map(s => s.snapshotId -> s).toMap
    val b = Seq.newBuilder[SnapshotMeta]
    val seen = scala.collection.mutable.Set[Long]()
    var cur = id
    while (cur > 0 && byId.contains(cur) && !seen(cur)) {
      seen += cur
      b += byId(cur)
      cur = parentOf(byId(cur))
    }
    b.result()
  }

  /** [[ancestorsOf]] the current snapshot (empty for an empty table). */
  def currentAncestors: Seq[SnapshotMeta] = ancestorsOf(currentSnapshotId)
}

/** Metadata persistence + commit protocol.
  *
  * Commit = exclusively create a `.v{N}.json.claim` marker (the version CAS
  * — two writers racing on the same version: exactly one claims, the other
  * gets "concurrent commit" and may retry at N+1), then write `v{N}.json`
  * via tmp+rename (readers never observe a partial file), then swap the
  * `version-hint.text` pointer. Same-JVM committers additionally serialize
  * on a per-table lock, making the CAS exact under local[N] concurrency;
  * cross-process exclusion is exact on HDFS (atomic exclusive create) and
  * best-effort on plain local/object stores. Equivalent in spirit to the
  * REST catalog's compare-and-swap the reference relies on (SURVEY §7
  * "Atomicity without a catalog service").
  */
object MetaIo {

  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  /** Test-only failpoint: the name of a commit step to die at, simulating
    * a process kill mid-commit ([[TornCommitSpec]]). Steps, in commit
    * order: "manifests-written" (externalize done, nothing claimed),
    * "claimed" (version CAS taken, no version file), "vfile-renamed"
    * (version file durable, hint not swapped), "hint-tmp-written" (hint
    * aside-file written, not renamed). Production never sets this.
    */
  @volatile private[graft] var commitFailpoint: String = ""

  private[graft] final class InjectedCommitCrash(step: String)
      extends RuntimeException(s"injected commit crash at '$step'")

  private def trip(step: String): Unit =
    if (commitFailpoint == step) throw new InjectedCommitCrash(step)

  private def writeFile(fs: FileSystem, p: Path, body: String): Unit = {
    val out = fs.create(p, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  def metadataDir(tableDir: Path): Path = new Path(tableDir, "metadata")
  def hintFile(tableDir: Path): Path = new Path(metadataDir(tableDir), "version-hint.text")

  def exists(fs: FileSystem, tableDir: Path): Boolean = fs.exists(hintFile(tableDir))

  def read(fs: FileSystem, tableDir: Path): TableMeta = {
    // the hint is swapped via rename (atomic on POSIX/HDFS), so a reader
    // sees the old or the new pointer, never a partial one; the retry below
    // defends against non-atomic filesystems truncating in place, and
    // against a checksummed local FS, which renames the hint and its `.crc`
    // sidecar one after the other: between the two, the new pointer reads
    // against the old checksum
    var attempt = 0
    while (true) {
      val raw =
        try Some(readFile(fs, hintFile(tableDir)).trim)
        catch { // mid-swap
          case _: java.io.FileNotFoundException |
               _: org.apache.hadoop.fs.ChecksumException => None
        }
      raw.flatMap(_.toIntOption) match {
        case Some(v) => return rollForward(fs, tableDir, v)
        case None if attempt < 20 => attempt += 1; Thread.sleep(5)
        case None => throw new IllegalStateException(
          s"unreadable version hint for $tableDir: '${raw.getOrElse("<absent>")}'")
      }
    }
    null // unreachable
  }

  /** Load the hinted version, then ROLL FORWARD past it (crash recovery):
    * a committer that died between its version-file rename and the hint
    * swap leaves a COMPLETE v{N}.json (tmp+rename — existence implies
    * integrity) that the hint never points at; without recovery the next
    * writer CASes on version N forever. The hint is a hint, not the
    * commit point — the head is the highest CONTIGUOUS version file. One
    * exists() probe per read in the steady state (v+1 absent); an actual
    * roll-forward also repairs the hint opportunistically (best-effort —
    * rename-swapped like the committer's, and a racing newer swap is
    * self-healing because every reader probes forward again). A v-file
    * that exists but fails to parse (non-atomic FS mid-write) stops the
    * walk at the last sound head rather than failing the read.
    */
  private def rollForward(fs: FileSystem, tableDir: Path, hinted: Int): TableMeta = {
    val dir = metadataDir(tableDir)
    var head = hinted
    var meta = mapper.readValue(
      readFile(fs, new Path(dir, s"v$head.json")), classOf[TableMeta])
    var walking = true
    while (walking) {
      val next = new Path(dir, s"v${head + 1}.json")
      if (!fs.exists(next)) walking = false
      else scala.util.Try(
        mapper.readValue(readFile(fs, next), classOf[TableMeta])) match {
        case scala.util.Success(m2) => head += 1; meta = m2
        case scala.util.Failure(_) => walking = false
      }
    }
    if (head != hinted) {
      // STRICTLY non-destructive repair: rename-over-existing only (atomic
      // where supported). No delete+rename fallback here — unlike the
      // committer's swap this runs outside the per-table lock, and a
      // deleted-hint window would let a concurrent `exists()` (DDL!) read
      // the table as absent. Where rename-over refuses (local FS) the
      // stale hint stays — harmless, since every read probes forward
      // anyway and the next commit swaps the hint properly.
      try {
        val hintTmp = new Path(dir,
          s".version-hint.${java.util.UUID.randomUUID()}.tmp")
        writeFile(fs, hintTmp, head.toString)
        if (!fs.rename(hintTmp, hintFile(tableDir))) fs.delete(hintTmp, false)
      } catch { case scala.util.control.NonFatal(_) => () } // repair is optional
    }
    meta
  }

  /** Every durable metadata version of a table, oldest first, as
    * (version, parsed metadata, version-file path) — the engine behind
    * the `.metadata_log_entries` metadata table. O(versions) small JSON
    * reads over the metadata dir only (never data), metadata-sized by
    * definition and bounded by version-log retention (expired versions
    * simply aren't listed). A file that fails to parse (non-atomic FS
    * mid-write) is skipped, mirroring rollForward's head rule.
    */
  def versionLog(fs: FileSystem, tableDir: Path)
      : Seq[(Int, TableMeta, String)] = {
    val dir = metadataDir(tableDir)
    val vPat = "^v(\\d+)\\.json$".r
    fs.listStatus(dir).toSeq
      .flatMap(st => vPat.findFirstMatchIn(st.getPath.getName)
        .map(m => m.group(1).toInt -> st.getPath))
      .sortBy(_._1)
      .flatMap { case (v, p) =>
        scala.util.Try(mapper.readValue(readFile(fs, p), classOf[TableMeta]))
          .toOption.map(m => (v, m, p.toString))
      }
  }

  // Manifest files are immutable once written (snapshots never change), so
  // parsed manifests memoize safely; bounded LRU so a long session over many
  // tables cannot grow without limit yet keeps hot tables' manifests parsed
  // (a clear-all at capacity would re-parse-storm every live table).
  private[graft] val ManifestCacheCap = 256

  /** Memory bound on the RESOLVED-manifest cache, in total cached
    * `FileStat` entries rather than documents: resolved documents vary by
    * orders of magnitude (a 10-file table vs a 10^6-file table), so a
    * count-of-documents LRU alone could pin 256 full file lists. Roughly
    * ~150 B of seq/pointer overhead per entry -> the default bounds the
    * cache near 160 MB of resolution overhead while keeping hundreds of
    * small-table resolutions hot. Mutable for specs.
    */
  private[graft] var manifestCacheEntryCap: Long = 1L << 20

  private var manifestCacheEntries: Long = 0L
  private val manifestCache =
    new java.util.LinkedHashMap[String, ManifestDoc](64, 0.75f, true)

  /** Cache one RESOLVED document and enforce both bounds (document count
    * and total FileStat entries), evicting eldest-accessed first but never
    * the document being returned.
    */
  private def cacheResolved(path: String, doc: ManifestDoc): Unit =
    manifestCache.synchronized {
      val prev = manifestCache.put(path, doc)
      if (prev != null) manifestCacheEntries -= prev.files.length
      manifestCacheEntries += doc.files.length
      val it = manifestCache.entrySet().iterator()
      while ((manifestCacheEntries > manifestCacheEntryCap ||
          manifestCache.size > ManifestCacheCap) && it.hasNext) {
        val e = it.next()
        if (e.getKey != path) {
          manifestCacheEntries -= e.getValue.files.length
          it.remove()
        }
      }
    }
  // as-written documents (delta form), keyed by path. A full document's raw
  // and resolved forms are the SAME object (readManifestDoc stores the
  // shallow reference), so the two caches never double-hold a big list;
  // delta entries are O(snapshot change) small.
  private val rawCache =
    new java.util.LinkedHashMap[String, ManifestDoc](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, ManifestDoc]): Boolean =
        size > ManifestCacheCap
    }

  /** The manifest document held by one external manifest file, AS WRITTEN —
    * a delta document's `files` holds only this snapshot's change, not the
    * visible list. This is the read for the per-snapshot facts every
    * document carries complete (`addedPaths`, `dataDirs`, `deletes`) and
    * for chain walking (expiry reachability, rebase): bounded incremental
    * readers go through here precisely so that reading a window snapshot's
    * own facts never resolves its chain into pre-window history.
    * Pre-upgrade manifests are a bare FileStat array (added/dirs were
    * inline in the snapshot then) — the first non-whitespace byte
    * disambiguates.
    */
  private[graft] def readManifestDocShallow(fs: FileSystem, path: String)
      : ManifestDoc = {
    recordAccess(path)
    rawCache.synchronized {
      val cached = rawCache.get(path)
      if (cached != null) return cached
    }
    val json = readFile(fs, new Path(path))
    val legacy = json.iterator.dropWhile(_.isWhitespace).nextOption().contains('[')
    val parsed: ManifestDoc =
      if (legacy) ManifestDoc(mapper.readValue(
        json, new com.fasterxml.jackson.core.`type`.TypeReference[Seq[FileStat]] {}))
      else mapper.readValue(json, classOf[ManifestDoc])
    rawCache.synchronized { rawCache.put(path, parsed) }
    parsed
  }

  /** The manifest document held by one external manifest file, RESOLVED:
    * a delta chain is replayed into the complete visible `files` list
    * (base-first order, exactly the sequence the committer verified), so
    * every consumer of `files` sees what it always saw. Resolution walks at
    * most `manifest.chain-cap` hops on the raw (delta) documents — each
    * O(change) small and cached in `rawCache` — and caches the full
    * resolution ONLY for the REQUESTED path: a recursive resolve that
    * cached every hop would pin O(chain x files) seq overhead for one deep
    * walk (advice r14). Interior snapshots still cache on their own
    * requests (each snapshot head is some chain's interior), so time
    * travel stays O(1) after first touch.
    */
  def readManifestDoc(fs: FileSystem, path: String): ManifestDoc = {
    recordAccess(path)
    manifestCache.synchronized {
      val cached = manifestCache.get(path)
      if (cached != null) return cached
    }
    val parsed = readManifestDocShallow(fs, path)
    if (parsed.base.isEmpty) {
      // full document: raw and resolved are the SAME object (no double-hold)
      cacheResolved(path, parsed)
      return parsed
    }
    // walk the chain shallow, nearest-first, stopping early at any base
    // whose resolution is already cached
    val hops = scala.collection.mutable.ArrayBuffer(parsed)
    var baseFiles: Seq[FileStat] = null
    var cur = parsed
    while (baseFiles == null && cur.base.nonEmpty) {
      val cachedBase =
        manifestCache.synchronized(Option(manifestCache.get(cur.base)))
      cachedBase match {
        case Some(b) => baseFiles = b.files
        case None =>
          cur = readManifestDocShallow(fs, cur.base)
          if (cur.base.nonEmpty) hops += cur
      }
    }
    if (baseFiles == null) baseFiles = cur.files // deepest doc is full
    // replay base-first (exactly what the committer verified at write)
    var files = baseFiles
    hops.reverseIterator.foreach { d =>
      val rm = d.removedPaths.toSet
      files = files.filterNot(f => rm(f.path)) ++ d.files
    }
    val resolved = parsed.copy(files = files, removedPaths = Nil)
    cacheResolved(path, resolved)
    resolved
  }

  /** Every manifest file a resolution of `path` touches (the path itself
    * plus its base chain, nearest first). Expiry must keep these alive for
    * every retained snapshot: a chain base is typically an EXPIRED
    * snapshot's manifest.
    */
  private[graft] def manifestChain(fs: FileSystem, path: String): Seq[String] =
    if (path.isEmpty) Nil
    else path +: manifestChain(fs, readManifestDocShallow(fs, path).base)

  /** Write `resolved` as a FULL (chain-free) manifest document for
    * `snapshotId` and return its path — the rebase primitive behind
    * `rewrite_manifests`.
    */
  private[graft] def writeManifestFull(fs: FileSystem, tableDir: Path,
      snapshotId: Long, resolved: ManifestDoc): String = {
    val mf = fs.makeQualified(new Path(metadataDir(tableDir),
      f"manifest-$snapshotId%05d-${java.util.UUID.randomUUID()}.json"))
    writeFile(fs, mf, mapper.writeValueAsString(
      resolved.copy(base = "", removedPaths = Nil, chainLen = 0)))
    mf.toString
  }

  /** The FileStat list held by one external manifest file. */
  def readManifest(fs: FileSystem, path: String): Seq[FileStat] =
    readManifestDoc(fs, path).files

  /** Test hook: current cache keys in eviction order (eldest first). */
  private[graft] def manifestCacheKeys: Seq[String] =
    manifestCache.synchronized {
      import scala.jdk.CollectionConverters._
      manifestCache.keySet().asScala.toSeq
    }

  /** Test hook: total FileStat entries held by the resolved cache. */
  private[graft] def manifestCacheEntryTotal: Long =
    manifestCache.synchronized(manifestCacheEntries)

  /** Test hook: drop all cached resolutions (semantics-neutral). */
  private[graft] def manifestCacheClear(): Unit =
    manifestCache.synchronized {
      manifestCache.clear()
      manifestCacheEntries = 0L
    }

  // Test hook: per-path manifest-document ACCESS counts (cache hits
  // included) — lets a spec prove a bounded incremental read planned only
  // its window's manifests, independent of what earlier ops left cached.
  // LRU-bounded like the manifest cache itself, so a long-lived driver
  // never accumulates one entry per manifest for the JVM lifetime.
  // While a spec is proving a property OVER the access set (flag on), the
  // log must not evict: an act that touches more than the cap — exactly the
  // buggy case such a proof exists to catch — would otherwise lose its
  // earliest (out-of-window) entries to the LRU and pass the subset
  // assertion vacuously. Production leaves the flag off and keeps the bound.
  @volatile private[graft] var manifestAccessUnbounded = false
  private val docAccesses =
    new java.util.LinkedHashMap[String, java.lang.Long](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.lang.Long]): Boolean =
        !manifestAccessUnbounded && size > ManifestCacheCap
    }
  private def recordAccess(path: String): Unit = docAccesses.synchronized {
    val prev = docAccesses.get(path)
    docAccesses.put(path, if (prev == null) 1L else prev + 1L)
    ()
  }
  // Explicit reset for specs: the LRU bound means long histories can evict
  // per-path counts mid-test, turning a before/after delta vacuous. A spec
  // resets, acts, then reads absolute counts — nothing to evict between.
  private[graft] def manifestAccessReset(): Unit =
    docAccesses.synchronized { docAccesses.clear() }

  private[graft] def manifestAccessSnapshot: Map[String, Long] =
    docAccesses.synchronized {
      import scala.jdk.CollectionConverters._
      docAccesses.asScala.map { case (k, v) => k -> v.longValue }.toMap
    }

  /** The table's delta-chain cap: a manifest chain never exceeds this many
    * hops before a commit writes a full document (0 disables deltas). The
    * cap trades commit IO (amortized full-rewrite every cap commits)
    * against resolution depth (cap metadata reads, each cached).
    */
  private[graft] def chainCap(meta: TableMeta): Int =
    meta.properties.get("manifest.chain-cap")
      .flatMap(_.trim.toIntOption).getOrElse(32)

  /** The delta form of `full` against its predecessor's resolved manifest,
    * or None when a delta is not sound or not worth it. Soundness is
    * checked by CONSTRUCTION: the exact replay a reader will perform
    * (`parent.files` minus `removedPaths`, then append `files`) must
    * reproduce the committer's in-memory sequence — order, stats, blooms,
    * everything — or the commit writes a full document instead. Rewrites
    * that reorder or replace most of the list (compaction, replace, big
    * upserts) naturally fall back to full documents, which doubles as the
    * chain's organic rebase.
    */
  private def deltaAgainst(parent: ManifestDoc, parentPath: String,
      full: ManifestDoc, cap: Int): Option[ManifestDoc] = {
    if (parent.chainLen + 1 >= cap) return None
    val byPath = full.files.groupBy(_.path)
    if (byPath.valuesIterator.exists(_.lengthCompare(1) > 0)) return None
    val parentPaths = parent.files.iterator.map(_.path).toSet
    // removed = base entries absent from (or replaced in) the new list;
    // a same-path entry with ANY field changed is a remove + re-add
    val removed = parent.files.collect {
      case f if !byPath.get(f.path).exists(_.contains(f)) => f.path }
    val rmSet = removed.toSet
    val added = full.files.filter(f => !parentPaths(f.path) || rmSet(f.path))
    // worth-it: a delta carrying as many FileStats as the full list saves
    // nothing and adds a chain hop
    if (full.files.nonEmpty && added.lengthCompare(full.files.size) >= 0)
      return None
    val replay = parent.files.filterNot(f => rmSet(f.path)) ++ added
    if (replay != full.files) return None
    Some(full.copy(files = added, base = parentPath,
      removedPaths = removed, chainLen = parent.chainLen + 1))
  }

  /** Move any inline per-snapshot O(files)/O(history) state — the file
    * manifest, the added-path list, and the cumulative data-dir list — into
    * one external manifest document per snapshot (named with a UUID so a
    * losing concurrent committer can never clobber the winner's manifest)
    * and leave a pointer plus O(1) counts. Called on every commit:
    * previously committed snapshots already carry pointers, so the
    * incremental work is one manifest write for the new snapshot — and
    * since round 14 that write is usually a DELTA document
    * ([[deltaAgainst]]), so commit IO tracks the CHANGE, not the table.
    * The version log's per-snapshot entry stays CONSTANT-size —
    * O(snapshots) total, not O(snapshots × files) and not O(appends²) via
    * dataDirs.
    */
  private def externalize(fs: FileSystem, tableDir: Path, meta: TableMeta)
      : (TableMeta, Seq[Path]) = {
    var written = Seq.empty[Path]
    val cap = chainCap(meta)
    // nearest preceding snapshot's manifest = the delta base candidate;
    // already-committed snapshots carry pointers, the new one diffs against
    // the last pointer seen walking the (append-ordered) snapshot list
    var prevManifest = ""
    val slim = meta.copy(snapshots = meta.snapshots.map { s =>
      if (s.files.isEmpty || s.manifestFile.nonEmpty) {
        if (s.manifestFile.nonEmpty) prevManifest = s.manifestFile
        s
      } else {
        val fullDoc = ManifestDoc(s.files, s.addedFiles, s.dataDirs, s.deletes)
        val doc =
          if (prevManifest.isEmpty || cap <= 0) fullDoc
          else deltaAgainst(readManifestDoc(fs, prevManifest), prevManifest,
            fullDoc, cap).getOrElse(fullDoc)
        val mf = fs.makeQualified(new Path(metadataDir(tableDir),
          f"manifest-${s.snapshotId}%05d-${java.util.UUID.randomUUID()}.json"))
        writeFile(fs, mf, mapper.writeValueAsString(doc))
        written :+= mf
        prevManifest = mf.toString
        s.copy(files = Nil, addedFiles = Nil, dataDirs = Nil, deletes = Nil,
          addedFileCount =
            if (s.addedFileCount >= 0) s.addedFileCount else s.addedFiles.length.toLong,
          addedByteCount =
            if (s.addedByteCount >= 0) s.addedByteCount
            else {
              // path spellings can differ between the added list and the
              // FileStat list (file:/x vs file:///x) — normalize both
              // through the ONE canonical spelling every other membership
              // test uses (FileStats.normPath), so a change there cannot
              // silently drift from this site
              val added = s.addedFiles.map(FileStats.normPath).toSet
              s.files.filter(f => added(FileStats.normPath(f.path)))
                .map(_.bytes).sum
            },
          totalFileCount = s.files.length.toLong,
          deleteFileCount = s.deletes.length.toLong,
          manifestFile = mf.toString)
      }
    })
    (slim, written)
  }

  // One lock object per table path: same-JVM committers (local[N] executors,
  // concurrent test threads, parallel component runs in one driver) serialize
  // here, making the version CAS exact in-process. Cross-process exclusion
  // still comes from the claim file below.
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def commit(fs: FileSystem, tableDir: Path, meta0: TableMeta): Unit = {
    val lock = commitLocks.computeIfAbsent(tableDir.toString, _ => new Object)
    lock.synchronized {
      val dir = metadataDir(tableDir)
      fs.mkdirs(dir)
      val (meta, newManifests) = externalize(fs, tableDir, meta0)
      trip("manifests-written")
      val vFile = new Path(dir, s"v${meta.version}.json")
      // Claim the version with create-no-overwrite BEFORE writing anything:
      // local-FS rename() silently REPLACES an existing destination, so
      // rename-if-absent alone cannot detect a same-version race there.
      // The zero-byte claim is the CAS (exclusive create on HDFS/local);
      // it is never deleted, so a stale straggler can never re-claim a
      // version and clobber committed metadata.
      val claim = new Path(dir, s".v${meta.version}.json.claim")
      val claimed =
        try { fs.create(claim, false).close(); true }
        catch { case _: java.io.IOException => false }
      if (!claimed) {
        // Crash recovery (torn commit): a committer that died BETWEEN its
        // claim create and its version-file rename leaves a claim with no
        // v-file — without recovery every later writer of this table
        // fails the CAS on this version forever (the hint never advances
        // past it). The claim counts as ABANDONED when its version file
        // is absent AND the claim is older than `commit.claim-grace-ms`
        // (default 10 min): a real crash leaves a dead process, so taking
        // over the version is safe, while a merely-slow claimer inside
        // the grace keeps its exclusivity. Same-JVM committers are
        // exactly serialized by the per-table lock above; cross-process
        // takeover shares the commit protocol's documented best-effort
        // envelope on non-HDFS stores. If the version file EXISTS the
        // version genuinely committed — lose the race normally (the
        // retry re-reads, rolls forward, and rebases on it).
        val grace = meta.properties.get("commit.claim-grace-ms")
          .flatMap(_.trim.toLongOption).getOrElse(600000L)
        val abandoned = !fs.exists(vFile) &&
          (try System.currentTimeMillis() -
            fs.getFileStatus(claim).getModificationTime >= grace
          catch { case _: java.io.IOException => false })
        if (!abandoned) {
          // this attempt lost the race — its manifest files are unreferenced
          newManifests.foreach(m => fs.delete(m, false))
          throw new IllegalStateException(
            s"concurrent commit detected for ${meta.namespace}.${meta.name} v${meta.version}")
        }
      }
      trip("claimed")
      // tmp + rename keeps READERS atomic (they never see a partial v-file);
      // committer exclusion already happened above
      val tmp = new Path(dir, s".v${meta.version}.json.${java.util.UUID.randomUUID()}.tmp")
      writeFile(fs, tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(meta))
      if (!fs.rename(tmp, vFile)) {
        fs.delete(tmp, false)
        newManifests.foreach(m => fs.delete(m, false))
        throw new IllegalStateException(
          s"commit rename failed for ${meta.namespace}.${meta.name} v${meta.version}")
      }
      trip("vfile-renamed")
      // hint swap must be ATOMIC for readers (create(overwrite) truncates
      // first — a concurrent read would see an empty file): write aside,
      // rename over. Rename replaces the destination atomically on
      // POSIX/HDFS, which is exactly the visibility readers need.
      val hintTmp = new Path(dir,
        s".version-hint.${java.util.UUID.randomUUID()}.tmp")
      writeFile(fs, hintTmp, meta.version.toString)
      trip("hint-tmp-written")
      if (!fs.rename(hintTmp, hintFile(tableDir))) {
        // local FS may refuse rename-over-existing; fall back to delete+rename
        fs.delete(hintFile(tableDir), false)
        require(fs.rename(hintTmp, hintFile(tableDir)),
          s"hint swap failed for ${meta.namespace}.${meta.name}")
      }
      // version-log retention (Iceberg's
      // write.metadata.previous-versions-max, opt-in): a streaming sink
      // committing a snapshot per minute accumulates half a million
      // v*.json files a year — operational poison for object-store
      // listings. Readers only ever load the HINTED version (snapshots,
      // time travel, rollback all live inside the current document), so
      // older version files are purely a metadata-history artifact and
      // safe to trim. Deletion walks back from the retention horizon and
      // stops at the first miss: steady state deletes one file per commit,
      // a backlog (property enabled late) drains across commits. Claim
      // markers are kept — they are the zero-byte CAS ledger that stops a
      // stale straggler from ever re-claiming a version number.
      // min 1 (DDL-enforced): with 0, a commit could delete the version a
      // reader racing the hint swap just resolved
      meta.properties.get("write.metadata.previous-versions-max")
        .flatMap(_.trim.toIntOption).filter(_ >= 1).foreach { max =>
          var v = meta.version - max - 1
          while (v >= 1 && fs.delete(new Path(dir, s"v$v.json"), false)) v -= 1
        }
    }
  }
}
