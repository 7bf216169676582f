package graft.icelite

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.parquet.hadoop.util.HadoopStreams
import org.apache.parquet.io.{OutputFile, PositionOutputStream}

/** The one way IceLite reaches storage: every `FileSystem` lookup in
  * `graft.icelite` and `graft.sources.v2` goes through [[IceFs.of]], and
  * the parquet writers open their files through [[IceFs.outputFile]].
  * Reads that Spark or parquet-mr resolve themselves use Hadoop's cached
  * FileSystem; they create nothing.
  *
  * Why it exists: without libhadoop (a plain `java -cp` or sbt run has
  * none), Hadoop's `RawLocalFileSystem.setPermission` forks `chmod` via
  * `Shell.execCommand` for every file and directory it creates, and
  * `ChecksumFileSystem` forks again for the `.crc` sidecar. An IceLite
  * commit creates four files (manifest, version claim, v-file tmp, hint
  * tmp), so it forked 8 times, and every data file forked twice more. In a
  * 3 GB JVM one `LocalFileSystem.create` + `close` measured 8.2–9.8 ms,
  * against 0.08–0.10 ms for a `java.nio` write of the same bytes.
  *
  * For the `file` scheme this returns a Hadoop `LocalFileSystem`, so
  * checksums and `.crc` sidecars stay, over a raw layer whose
  * `setPermission` is `Files.setPosixFilePermissions`: the chmod syscall
  * Hadoop's NativeIO makes when libhadoop is loaded, without a process.
  * Caching follows Hadoop's own: one process-wide instance, configured by
  * the first conf that asks, or a fresh one per call under
  * `fs.file.impl.disable.cache=true`. Every other scheme resolves exactly
  * as `path.getFileSystem(conf)`.
  */
object IceFs {

  def of(path: Path, conf: Configuration): FileSystem =
    if (!isLocal(path, conf)) path.getFileSystem(conf)
    else if (conf.getBoolean("fs.file.impl.disable.cache", false)) newLocal(conf)
    else synchronized {
      if (shared == null) shared = newLocal(conf)
      shared
    }

  /** parquet-mr output over [[of]]'s `create`. `ParquetWriter.Builder(Path)`
    * would resolve its own FileSystem; the arguments mirror parquet-mr's
    * `HadoopOutputFile`.
    */
  def outputFile(path: Path, conf: Configuration): OutputFile = {
    val fs = of(path, conf)
    new OutputFile {
      override def create(blockSizeHint: Long): PositionOutputStream =
        open(overwrite = false, blockSizeHint)
      override def createOrOverwrite(blockSizeHint: Long): PositionOutputStream =
        open(overwrite = true, blockSizeHint)
      override def supportsBlockSize(): Boolean =
        Set("hdfs", "webhdfs", "viewfs").contains(fs.getUri.getScheme)
      override def defaultBlockSize(): Long = fs.getDefaultBlockSize(path)
      override def getPath: String = path.toString
      private def open(overwrite: Boolean, blockSizeHint: Long) =
        HadoopStreams.wrap(fs.create(path, overwrite, 4096,
          fs.getDefaultReplication(path),
          math.max(fs.getDefaultBlockSize(path), blockSizeHint)))
    }
  }

  private var shared: LocalFileSystem = _

  private def isLocal(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** Built the way Hadoop's `FileSystem.createFileSystem` builds a cached
    * instance: `setConf`, then `initialize`.
    */
  private def newLocal(conf: Configuration): LocalFileSystem = {
    val fs = new LocalFileSystem(new InProcessChmod)
    fs.setConf(conf)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Hadoop's raw local layer with chmod done in-process. A sticky bit,
    * which `java.nio` cannot express, keeps Hadoop's own path.
    */
  private final class InProcessChmod extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        // PosixFilePermission.values runs owner rwx, group rwx, others rwx:
        // mode bits 0400 down to 0001
        val mode = permission.toShort
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
          if ((mode & (0x100 >> i)) != 0) perms.add(pp)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
  }
}
