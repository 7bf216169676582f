package graft.icelite

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}

/** Extracts [[FileStat]] manifest entries from parquet footers.
  *
  * One footer read per data file, done once at commit time (the write path
  * already has the file open or just closed it), so scans never have to
  * touch data-file footers during planning — the stats travel in the
  * snapshot metadata, the same economics as Iceberg's manifests. The
  * reference gets the equivalent stats for free from PyIceberg's
  * `add_files`/append write path (`wr/src/component.py:101-110`).
  *
  * Encoding: numeric stats as `Long`/`Double` decimal strings (floats are
  * widened to double exactly before printing, so boundary comparisons never
  * lose a bit), dates as epoch-day integers, timestamps as micros, strings
  * raw. INT96 timestamps carry no usable order — skipped. Columns with no
  * usable stats are simply absent from the maps; planners must treat absent
  * as unknown (never skip).
  */
object FileStats {

  /** The one canonical path spelling for membership tests. Writers and
    * manifest generations can spell the same file 'file:/x' vs 'file:///x'
    * (Hadoop vs Spark rendering); EVERY set-membership test between an
    * added-path list and a FileStat list must normalize BOTH sides through
    * this, or the intersection silently misses — the changelog stream would
    * drop a snapshot's inserts, the incremental scan would return an empty
    * delta, the byte cap would charge 0.
    */
  def normPath(p: String): String = new Path(p).toString

  /** The one definition of which column types the NDV writers sketch
    * (FileStat.ndv) — shared by the DSv2 writer's eligibility slots, the
    * maintenance read-back sketcher ([[Ndv.sketchFiles]]), and
    * IceTable.approxDistinct's refusal gate so a type added to one side
    * cannot silently go missing from the other.
    */
  def ndvSketchable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | StringType | DateType |
           TimestampType | TimestampNTZType => true
      // v3: floating metric columns sketch via canonical double bits
      // (Ndv.doubleBits — one NaN, one zero); floats widen to double
      // BEFORE hashing so a float->double type widening unions
      // consistently (old files' float values ARE those doubles)
      case DoubleType | FloatType => true
      // v4: decimals sketch via the unscaled value at declared scale
      // (Ndv.decimalHash — update(Long) when it fits, two's-complement
      // bytes beyond; value-dependent dispatch, so fixed-scale precision
      // widenings union consistently across file eras)
      case _: DecimalType => true
      case _ => false
    }
  }

  /** Full per-FIELD sketch eligibility: sketchable type AND not the
    * reserved version-marker name — a column literally named
    * `__ndv_version` would have its sketch slot collide with the marker in
    * the shared `FileStat.ndv` map (the sketch silently overwritten, the
    * estimate then refusing forever), so it is excluded everywhere the
    * same way instead (writer slots, read-back sketcher, estimate gate).
    */
  def ndvEligible(f: org.apache.spark.sql.types.StructField): Boolean =
    f.name != NdvVersionKey && ndvSketchable(f.dataType)

  /** The one parser for the `graft.ndv.columns` gate spelling ("*" = every
    * eligible column, "" = none, else a comma list; trimmed so "* " still
    * means all) — shared by the DSv2 writer factory and the maintenance
    * read-back sketcher so the two paths can never interpret the same conf
    * differently. List entries naming no column of a given table are
    * tolerated silently: the conf is session-global and may legitimately
    * scope a different table's columns.
    */
  def ndvGate(spec: String): String => Boolean = spec.trim match {
    case "*" => _ => true
    case list =>
      val set = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
      set.contains
  }

  /** Bloom-filter column gate and hashing-scheme version ([[FileStat.bloom]]).
    * Opt-in (default none: blooms cost ~60 KB per column per file, so the
    * user names the point-lookup keys worth it). Eligible types are the
    * point-lookup domain — long/int/string/date/timestamp/decimal; floats
    * are excluded (equality on floats is an antipattern) and short/byte
    * (256 / 65k possible values make a bloom pointless). Scheme v1:
    * integral values hash via `update(Long)` (ints/dates widened), strings
    * via the NUL-sentinel UTF-8 byte form shared with the NDV sketches.
    * Scheme v2 = v1 + decimals (money-typed point-lookup keys are real):
    * the unscaled value at the column's DECLARED scale, `update(Long)`
    * when it fits a long, else its two's-complement bytes — the dispatch
    * is by VALUE, not by declared precision, so a fixed-scale precision
    * widening (incl. crossing the long/byte-array physical boundary at
    * p=18) hashes every shared value identically across file eras
    * ([[Ndv.decimalHash]], shared with the NDV sketches). A filter under
    * an incompatible marker is ignored by the prune (conservative
    * no-prune) — a wrong-scheme probe could prove a false absence; v1
    * filters stay serviceable for every v1-era type ([[bloomVersionOk]]).
    */
  val BloomVersionKey = "__bloom_version"
  val BloomVersion = "2"
  val BloomVersionV1 = "1"
  val BloomSeed = 9001L // fixed: byte-identical manifests across runs
  val BloomFpp = 0.01

  def bloomEligible(f: org.apache.spark.sql.types.StructField): Boolean = {
    import org.apache.spark.sql.types._
    f.name != BloomVersionKey && (f.dataType match {
      case LongType | IntegerType | StringType | DateType |
           TimestampType | TimestampNTZType => true
      case _: DecimalType => true // v2: unscaled-value hash domain
      case _ => false
    })
  }

  /** May a filter written under `marker` serve a point probe for a column
    * of type `dt`? v2 is purely ADDITIVE over v1 — every v1-era type
    * hashes bit-identically in v2 — so v1 filters keep pruning
    * long/int/string/date/timestamp lookups (a marker bump must not erase
    * a fleet's existing point-lookup coverage). Only decimal demands v2 (a
    * v1 filter cannot carry decimal hashes), and any OTHER marker (newer
    * scheme, corrupted, absent) refuses outright.
    */
  def bloomVersionOk(dt: org.apache.spark.sql.types.DataType,
      marker: Option[String]): Boolean = {
    import org.apache.spark.sql.types._
    marker match {
      case Some(BloomVersion) => true
      case Some(BloomVersionV1) => dt match {
        case _: DecimalType => false
        case _ => true
      }
      case _ => false
    }
  }

  /** Is `marker` any scheme this build can probe (type-specifics aside)?
    * The advertisement gate: a column may be offered as a runtime-filter
    * target when SOME known-scheme filter exists for it — the per-probe
    * [[bloomVersionOk]] check still decides type compatibility.
    */
  def bloomMarkerKnown(marker: Option[String]): Boolean =
    marker.contains(BloomVersion) || marker.contains(BloomVersionV1)

  /** Version marker stored alongside the per-column sketches in
    * FileStat.ndv: v2 = string values hashed with the NUL sentinel prefix
    * (see the writer); v3 = v2 plus double/float eligibility (canonical
    * double-bits hashing, [[Ndv.doubleBits]]); v4 = v3 plus decimal
    * eligibility (unscaled-value hashing, [[Ndv.decimalHash]]). Sketches
    * from a DIFFERENT hashing scheme must not union — shared values would
    * double-count — so approxDistinct refuses files whose marker is
    * incompatible with the queried column's type ([[ndvVersionOk]]).
    */
  val NdvVersionKey = "__ndv_version"
  val NdvVersion = "4"
  val NdvVersionV3 = "3"
  val NdvVersionV2 = "2"

  /** Whether a file-level sketch written under `marker` may serve an
    * estimate for a column of type `dt`. Each version is purely ADDITIVE
    * over its predecessor — the hash of every prior-era type is
    * bit-identical — so older files keep serving estimates for the types
    * their scheme could carry (a marker bump must not erase a fleet's
    * existing NDV coverage). Only the types a scheme ADDED demand it:
    * float/double demand >= v3, decimal demands v4; any OTHER marker
    * (older scheme, corrupted, absent) refuses outright.
    */
  def ndvVersionOk(dt: org.apache.spark.sql.types.DataType,
      marker: Option[String]): Boolean = {
    import org.apache.spark.sql.types._
    marker match {
      case Some(NdvVersion) => true
      case Some(NdvVersionV3) => dt match {
        case _: DecimalType => false
        case _ => true
      }
      case Some(NdvVersionV2) => dt match {
        case DoubleType | FloatType | _: DecimalType => false
        case _ => true
      }
      case _ => false
    }
  }


  /** The complete data-file manifest of a snapshot: loaded from the
    * snapshot's external manifest file (one small immutable JSON, memoized),
    * or the inline `files` list of in-memory / pre-externalization metadata.
    * Pre-upgrade metadata with neither degrades to a recursive directory
    * listing with unknown stats (`rows = -1`), which every planner must
    * treat as unprunable. The single shared implementation behind IceTable
    * scans, DSv2 table construction, and DSv2 write commits.
    */
  def visible(fs: org.apache.hadoop.fs.FileSystem, snap: SnapshotMeta): Seq[FileStat] =
    if (snap.manifestFile.nonEmpty) MetaIo.readManifest(fs, snap.manifestFile)
    else if (snap.files.nonEmpty || snap.dataDirs.isEmpty) snap.files
    else snap.dataDirs.flatMap { d =>
      val it = fs.listFiles(new Path(d), true)
      Iterator.continually(it).takeWhile(_.hasNext)
        .map(_.next())
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(st => FileStat(st.getPath.toString, rows = -1L, bytes = st.getLen))
        .toSeq
    }.sortBy(_.path)

  /** The data directories visible at a snapshot. Inline on in-memory /
    * pre-upgrade metadata; in the external manifest document otherwise
    * (the cumulative dir list grows with append history, so it cannot live
    * in the version log — see SnapshotMeta.dataDirs).
    */
  def dataDirsOf(fs: org.apache.hadoop.fs.FileSystem, snap: SnapshotMeta): Seq[String] =
    if (snap.dataDirs.nonEmpty || snap.manifestFile.isEmpty) snap.dataDirs
    else MetaIo.readManifestDocShallow(fs, snap.manifestFile).dataDirs

  /** Paths of the files ADDED by a snapshot (inline or from the manifest
    * document — same externalization story as [[dataDirsOf]]).
    */
  def addedPathsOf(fs: org.apache.hadoop.fs.FileSystem, snap: SnapshotMeta): Seq[String] =
    if (snap.addedFiles.nonEmpty || snap.manifestFile.isEmpty) snap.addedFiles
    else MetaIo.readManifestDocShallow(fs, snap.manifestFile).addedPaths

  /** Outstanding position-delete files of a snapshot (merge-on-read).
    * Inline on in-memory metadata, in the manifest document on committed.
    */
  def deletesOf(fs: org.apache.hadoop.fs.FileSystem, snap: SnapshotMeta): Seq[DeleteStat] =
    if (snap.deletes.nonEmpty || snap.manifestFile.isEmpty) snap.deletes
    else MetaIo.readManifestDocShallow(fs, snap.manifestFile).deletes

  /** Carry deletes forward across a copy-on-write rewrite of some files.
    * Position entries are trimmed to data files that survive untouched (the
    * rewrite already applied the deletes of the files it replaced).
    * Equality deletes carry WHOLE: untouched old-era files still need them,
    * and the rewritten files escape by construction (their new era is past
    * the delete's `seqId`), so no trim is needed or possible.
    */
  def trimDeletes(ds: Seq[DeleteStat], keep: Set[String]): Seq[DeleteStat] =
    ds.flatMap { d =>
      if (d.isEquality) Some(d)
      else {
        val kept = d.appliesTo.filter(e => keep(e.path))
        if (kept.isEmpty) None else Some(d.copy(appliesTo = kept))
      }
    }

  /** Could the equality delete `d` affect any row of data file `f`? True
    * iff the file's era strictly precedes the delete's sequence, the file
    * is not the delete's own same-snapshot data directory, and every key
    * column's stat range overlaps the delete's key bounds (missing stats on
    * either side stay conservative). Position deletes always answer false —
    * they attach by explicit file path instead.
    */
  def eqAppliesTo(d: DeleteStat, f: FileStat,
      schema: org.apache.spark.sql.types.StructType): Boolean =
    d.isEquality &&
      f.eraOrPath < d.seqId &&
      !d.eqExemptDirs.exists(dir => f.path.startsWith(dir + "/")) &&
      d.eqCols.forall(c => FilePrune.statRangesOverlap(schema, c,
        f.min.get(c), f.max.get(c), d.eqMin.get(c), d.eqMax.get(c))) &&
      !inlineKeysDisjoint(d, f, schema)

  /** Exact point-containment exemption from the delete's INLINE key values
    * (recorded for small deletes — the CDC-tombstone shape): a data file
    * that provably contains NONE of the delete's values for SOME key
    * column cannot hold a matching row (a match needs every key column to
    * hit), so it is exempt and stays on the columnar read path even when
    * scattered keys make the range test demote everything. Each value
    * probes through the SAME machinery pushed equality filters use —
    * min/max range containment plus the opt-in per-file bloom
    * (FilePrune.canMatch on an In) — so every probe is
    * necessary-condition-sound: absent stats, bloom false positives, or an
    * undecodable value only fail to exempt.
    */
  private def inlineKeysDisjoint(d: DeleteStat, f: FileStat,
      schema: org.apache.spark.sql.types.StructType): Boolean = {
    if (d.eqKeys.isEmpty) return false
    d.eqCols.exists { c =>
      d.eqKeys.get(c).exists { vs =>
        schema.fieldNames.contains(c) && vs.nonEmpty && {
          val dt = schema(c).dataType
          val parsed = vs.map(FilePrune.keyValue(dt, _))
          parsed.forall(_.isDefined) &&
            !FilePrune.canMatch(
              org.apache.spark.sql.sources.In(c, parsed.flatten.toArray),
              schema, f)
        }
      }
    }
  }

  /** Count of files added by a snapshot WITHOUT touching any manifest:
    * the inline O(1) count on current metadata, the inline path list on
    * pre-upgrade metadata. Keeps the `.snapshots` view and streaming
    * admission control metadata-only at any file count.
    */
  def addedCount(snap: SnapshotMeta): Long =
    if (snap.addedFileCount >= 0) snap.addedFileCount else snap.addedFiles.length.toLong

  /** Bytes of the files ADDED by a snapshot — streaming byte-based
    * admission control. O(1) from the inline commit-time count on current
    * metadata; pre-upgrade snapshots fall back to one pass over the
    * snapshot's (cached) manifest.
    */
  def addedBytes(fs: org.apache.hadoop.fs.FileSystem, s: SnapshotMeta): Long = {
    if (s.addedByteCount >= 0) return s.addedByteCount
    // normalized membership (normPath): a spelling mismatch would silently
    // sum 0 bytes and disable the byte cap (first batch plans the history)
    val addedPaths = addedPathsOf(fs, s).map(normPath).toSet
    visible(fs, s).filter(f => addedPaths(normPath(f.path))).map(_.bytes).sum
  }

  /** Did snapshot `s` keep every file visible at `parent`? Carried files
    * are always a subset of the parent's visible set, so equal counts mean
    * equal sets — O(1) on current metadata via the inline counts; the
    * manifest subset proof runs only for pre-upgrade snapshots. The
    * foundation of the changelog contract (batch and streaming): a
    * non-rewriting snapshot's row-level delta is exactly its added files
    * plus its new delete files.
    */
  def isNonRewriting(fs: org.apache.hadoop.fs.FileSystem,
      parent: Option[SnapshotMeta], s: SnapshotMeta): Boolean = {
    val countsKnown = s.totalFileCount >= 0 && s.addedFileCount >= 0 &&
      parent.forall(_.totalFileCount >= 0)
    if (countsKnown)
      s.totalFileCount == parent.map(_.totalFileCount).getOrElse(0L) + s.addedFileCount
    else {
      def q(p: String) = new Path(p).toString
      val sPaths = visible(fs, s).map(f => q(f.path)).toSet
      parent.map(visible(fs, _)).getOrElse(Nil).forall(f => sPaths(q(f.path)))
    }
  }

  /** New delete files committed BY `s` (absent at `parent`). Once `s` is
    * known non-rewriting, deletes only accumulate — an unchanged inline
    * count means none, and the parent's manifest stays untouched on the
    * append-only fast path.
    */
  def newDeletesOf(fs: org.apache.hadoop.fs.FileSystem,
      parent: Option[SnapshotMeta], s: SnapshotMeta): Seq[DeleteStat] = {
    val none = s.deleteFileCount >= 0 && parent.forall(_.deleteFileCount >= 0) &&
      s.deleteFileCount == parent.map(_.deleteFileCount).getOrElse(0L)
    if (none) Nil
    else {
      val pDeletes = parent.map(deletesOf(fs, _)).getOrElse(Nil)
      deletesOf(fs, s).filterNot(d => pDeletes.exists(_.path == d.path))
    }
  }

  /** Files ADDED by the append snapshots in `(from, to]` — the shared
    * range extraction behind the batch incremental scan, the DSv2
    * `fromSnapshotId` option, and the streaming source. Callers are
    * responsible for the expired-history check; this refuses non-append
    * snapshots (their added files are not pure inserts). Manifest cost
    * tracks the snapshots in the RANGE, not table history.
    */
  /** Snapshot operations whose added files are PURE INSERTS — a bag union
    * against the parent, removing nothing. These are the ops incremental
    * readers admit and cherry-pick transplants: `append` writes new rows,
    * `add_files` references existing foreign files (same algebra, the data
    * just pre-existed elsewhere).
    */
  val PureInsertOps: Set[String] = Set("append", "add_files")

  def addedInRange(fs: org.apache.hadoop.fs.FileSystem, meta: TableMeta,
      from: Long, to: Long, context: String): Seq[FileStat] = {
    val range = meta.snapshots.filter(s => s.snapshotId > from && s.snapshotId <= to)
    val nonAppend = range.filterNot(s => PureInsertOps(s.operation))
    require(nonAppend.isEmpty,
      s"$context hit non-append snapshots " +
        s"${nonAppend.map(s => s"#${s.snapshotId}(${s.operation})").mkString(", ")}")
    range.flatMap { s =>
      val addedPaths = addedPathsOf(fs, s)
      // normalized set membership (normPath): a spelling mismatch would
      // silently return an EMPTY delta for the snapshot — vanished rows,
      // not an error. Set, not Seq.contains: O(files + added)
      val added = addedPaths.map(normPath).toSet
      val manifest = if (s.manifestFile.nonEmpty || s.files.nonEmpty) visible(fs, s) else Nil
      if (manifest.nonEmpty) manifest.filter(f => added.contains(normPath(f.path)))
      else addedPaths.map(p => FileStat(p, rows = -1L, bytes = 0L))
    }.sortBy(_.path)
  }

  /** Replace unknown-row (-1, legacy) entries with real footer-derived
    * stats — a one-time driver-side footer read per legacy file that also
    * permanently heals the manifest on the next commit.
    */
  def ensureRows(conf: Configuration, files: Seq[FileStat]): Seq[FileStat] =
    if (files.forall(_.rows >= 0)) files
    else {
      // heal all unknown-row (legacy) entries in one batch: collect()
      // parallelizes — and distributes past the threshold — instead of
      // footer-reading serially per file
      val healed = collect(conf,
        files.collect { case f if f.rows < 0 => f.path })
        .map(st => st.path -> st).toMap
      files.map(f => if (f.rows >= 0) f else healed(f.path))
    }

  /** Expired-history guard for incremental reads: reading from `from`
    * requires `from` (or, when reading from 0, the whole prefix) to still
    * be in the snapshot log — otherwise rows would silently vanish.
    */
  def requireHistory(meta: TableMeta, from: Long, context: String): Unit =
    require(
      if (from == 0L) meta.snapshots.map(_.snapshotId).minOption.forall(_ == 1L)
      else meta.snapshot(from).isDefined,
      s"$context: snapshot history from $from has been expired in " +
        s"${meta.namespace}.${meta.name}")

  /** Min/max/null stats for one file, aggregated across its row groups. */
  def fromFooter(footer: ParquetMetadata, path: String, bytes: Long): FileStat = {
    val blocks = footer.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    var mins = Map.empty[String, String]
    var maxs = Map.empty[String, String]
    var nulls = Map.empty[String, String]

    val schema = footer.getFileMetaData.getSchema
    val topLevel = schema.getFields.asScala.collect {
      case f if f.isPrimitive => f.asPrimitiveType()
    }
    topLevel.foreach { pt =>
      val name = pt.getName
      val chunks = blocks.flatMap(_.getColumns.asScala.find { c =>
        c.getPath.size == 1 && c.getPath.toDotString == name
      })
      if (chunks.nonEmpty) {
        val stats = chunks.map(_.getStatistics)
        // null counts: valid only if every row group reports one
        if (stats.forall(s => s != null && s.isNumNullsSet && s.getNumNulls >= 0))
          nulls += name -> stats.map(_.getNumNulls).sum.toString
        val withValues = stats.filter(s => s != null && s.hasNonNullValue)
        // min/max usable only when every non-empty chunk has values and the
        // whole file is covered (a chunk without stats could hide anything)
        if (withValues.length == chunks.length && withValues.nonEmpty) {
          encodeMinMax(pt, withValues.map(_.genericGetMin.asInstanceOf[AnyRef]),
              withValues.map(_.genericGetMax.asInstanceOf[AnyRef])).foreach { case (lo, hi) =>
            mins += name -> lo
            maxs += name -> hi
          }
        }
      }
    }
    FileStat(path, rows, bytes, mins, maxs, nulls)
  }

  /** Stats for a file this process just wrote, from the writer's
    * in-memory footer instead of a re-open. The footer goes through the
    * same parquet-format conversion a reader applies (binary min/max over
    * 4 KiB dropped, NaN / signed-zero double bounds normalized), so the
    * result equals [[fromFooter(conf, path)]] on the written file.
    */
  def fromWrittenFooter(conf: Configuration, footer: ParquetMetadata,
      path: String): FileStat = {
    val p = new Path(path)
    val len = IceFs.of(p, conf).getFileStatus(p).getLen
    val conv = new ParquetMetadataConverter(conf)
    fromFooter(conv.fromParquetMetadata(
      conv.toParquetMetadata(ParquetFileWriter.CURRENT_VERSION, footer)), path, len)
  }

  def fromFooter(conf: Configuration, path: String): FileStat = {
    val p = new Path(path)
    val fs = IceFs.of(p, conf)
    val len = fs.getFileStatus(p).getLen
    val in = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try fromFooter(in.getFooter, path, len)
    finally in.close()
  }

  /** One footer read serving BOTH the manifest entry and the file's
    * parquet schema (as its stable `MessageType` string — converted to a
    * Spark schema on the DRIVER, where the session's SQLConf governs the
    * conversion; executor/pool threads see default confs only).
    */
  private def fromFooterWithMessage(conf: Configuration, path: String)
      : (FileStat, String) = {
    val p = new Path(path)
    val fs = IceFs.of(p, conf)
    val len = fs.getFileStatus(p).getLen
    val in = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try {
      val footer = in.getFooter
      (fromFooter(footer, path, len),
        footer.getFileMetaData.getSchema.toString)
    } finally in.close()
  }

  /** Above this many files, footer scans leave the driver: a replace /
    * compact of a 100 TB table commits 10⁴–10⁵ files, and an 8-thread
    * driver pool would serialize the commit path for minutes.
    */
  private[graft] val DistributeThreshold = 64

  /** Footer-scan a batch of files: small batches on a driver-side pool
    * (no job-scheduling latency for the common few-file commit), large
    * batches as a Spark job over the path list — same per-file logic
    * ([[fromFooter]]), executor-parallel.
    */
  def collect(conf: Configuration, paths: Seq[String]): Seq[FileStat] = {
    if (paths.isEmpty) return Nil
    val active = org.apache.spark.sql.SparkSession.getActiveSession
    if (paths.length >= DistributeThreshold && active.isDefined)
      return collectDistributed(active.get, conf, paths)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, paths.length))
    try {
      val futs = paths.map(p => pool.submit(
        new java.util.concurrent.Callable[FileStat] {
          override def call(): FileStat = fromFooter(conf, p)
        }))
      futs.map(_.get())
    } finally pool.shutdown()
  }

  /** [[collect]] plus each file's Spark-visible schema from the same
    * footer read — the add_files shape (stats for the manifest, schemas
    * for the gate, one pass). Same pool/distribute split as [[collect]];
    * the parquet->Spark conversion runs on the driver under the session's
    * SQLConf (what an actual read of the file would serve).
    */
  def collectWithSchema(conf: Configuration, paths: Seq[String])
      : Seq[(FileStat, org.apache.spark.sql.types.StructType)] = {
    if (paths.isEmpty) return Nil
    val conv = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(org.apache.spark.sql.internal.SQLConf.get)
    def convert(msg: String): org.apache.spark.sql.types.StructType =
      conv.convert(org.apache.parquet.schema.MessageTypeParser.parseMessageType(msg))
    val active = org.apache.spark.sql.SparkSession.getActiveSession
    if (paths.length >= DistributeThreshold && active.isDefined) {
      val spark = active.get
      val sconf = new org.apache.spark.util.SerializableConfiguration(conf)
      val slices = math.min(paths.length,
        math.max(spark.sparkContext.defaultParallelism, 1) * 2)
      return spark.sparkContext
        .parallelize(paths.zipWithIndex, slices)
        .map { case (p, i) =>
          val (st, msg) = fromFooterWithMessage(sconf.value, p)
          (i, st, msg)
        }
        .collect()
        .sortBy(_._1)
        .map { case (_, st, msg) => (st, convert(msg)) }
        .toSeq
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, paths.length))
    try {
      val futs = paths.map(p => pool.submit(
        new java.util.concurrent.Callable[(FileStat, String)] {
          override def call(): (FileStat, String) =
            fromFooterWithMessage(conf, p)
        }))
      futs.map(_.get()).map { case (st, msg) => (st, convert(msg)) }
    } finally pool.shutdown()
  }

  /** The distributed footer scan, input order preserved. `private[graft]`
    * so specs can prove it bit-identical to the driver-pool path.
    */
  private[graft] def collectDistributed(spark: org.apache.spark.sql.SparkSession,
      conf: Configuration, paths: Seq[String]): Seq[FileStat] = {
    val sconf = new org.apache.spark.util.SerializableConfiguration(conf)
    val slices = math.min(paths.length,
      math.max(spark.sparkContext.defaultParallelism, 1) * 2)
    spark.sparkContext
      .parallelize(paths.zipWithIndex, slices)
      .map { case (p, i) => (i, fromFooter(sconf.value, p)) }
      .collect()
      .sortBy(_._1)
      .map(_._2)
      .toSeq
  }

  /** Reduce per-row-group min/max values to one encoded (min, max) pair, or
    * None when the physical type has no exploitable order (INT96 etc.).
    */
  private def encodeMinMax(pt: PrimitiveType, mins: Seq[AnyRef],
      maxs: Seq[AnyRef]): Option[(String, String)] = {
    import PrimitiveType.PrimitiveTypeName._
    // decimal columns (INT32/INT64/FIXED_LEN_BYTE_ARRAY physicals) encode
    // SCALED plain strings ("123.45"), the domain FilePrune's decimal
    // parse compares in — a raw unscaled long under the column name would
    // be misread the moment any consumer assumed the logical domain
    val decScale: Option[Int] = pt.getLogicalTypeAnnotation match {
      case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => Some(d.getScale)
      case _ => None
    }
    def scaled(unscaled: java.math.BigInteger): String =
      new java.math.BigDecimal(unscaled, decScale.get).toPlainString
    pt.getPrimitiveTypeName match {
      case INT32 | INT64 if decScale.isDefined =>
        val lo = mins.map(v => v.asInstanceOf[Number].longValue).min
        val hi = maxs.map(v => v.asInstanceOf[Number].longValue).max
        Some((scaled(java.math.BigInteger.valueOf(lo)),
          scaled(java.math.BigInteger.valueOf(hi))))
      case FIXED_LEN_BYTE_ARRAY | BINARY if decScale.isDefined =>
        // sign-extended two's-complement big-endian bytes; numeric order
        // is BigDecimal order, so reduce in the decoded domain
        val los = mins.map(v => BigDecimal(new java.math.BigDecimal(
          new java.math.BigInteger(v.asInstanceOf[Binary].getBytes), decScale.get)))
        val his = maxs.map(v => BigDecimal(new java.math.BigDecimal(
          new java.math.BigInteger(v.asInstanceOf[Binary].getBytes), decScale.get)))
        Some((los.min.underlying.toPlainString, his.max.underlying.toPlainString))
      case INT32 | INT64 =>
        val lo = mins.map(v => v.asInstanceOf[Number].longValue).min
        val hi = maxs.map(v => v.asInstanceOf[Number].longValue).max
        Some((lo.toString, hi.toString))
      case FLOAT =>
        // widen exactly: Float.toString reparsed as double drifts off the
        // true value; float->double widening is lossless
        val lo = mins.map(v => v.asInstanceOf[java.lang.Float].floatValue.toDouble).min
        val hi = maxs.map(v => v.asInstanceOf[java.lang.Float].floatValue.toDouble).max
        Some((lo.toString, hi.toString))
      case DOUBLE =>
        val lo = mins.map(v => v.asInstanceOf[java.lang.Double].doubleValue).min
        val hi = maxs.map(v => v.asInstanceOf[java.lang.Double].doubleValue).max
        Some((lo.toString, hi.toString))
      case BOOLEAN =>
        val lo = mins.map(v => v.asInstanceOf[java.lang.Boolean].booleanValue).min
        val hi = maxs.map(v => v.asInstanceOf[java.lang.Boolean].booleanValue).max
        Some((lo.toString, hi.toString))
      case BINARY if pt.getLogicalTypeAnnotation
          .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        // byte-lexicographic order == Spark's UTF8String binary order
        implicit val ord: Ordering[Binary] =
          (a: Binary, b: Binary) => compareBytes(a.getBytes, b.getBytes)
        val lo = mins.map(_.asInstanceOf[Binary]).min
        val hi = maxs.map(_.asInstanceOf[Binary]).max
        Some((lo.toStringUsingUTF8, hi.toStringUsingUTF8))
      case _ => None
    }
  }

  private def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }
}
