package graft

import java.io.RandomAccessFile
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, Path}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.EqualTo

import graft.icelite.{IceCatalog, IceFs, MetaIo}

/** IceLite's local-disk access ([[IceFs]]): no process per created file,
  * Hadoop's permission semantics, and Hadoop's checksums.
  */
class LocalFsSpec extends SparkSpec {

  private def rows(from: Long, to: Long) =
    spark.range(from, to).select(col("id"), (col("id") * 2).as("v"))

  private def local(p: Path) = Paths.get(p.toUri.getPath)

  private def crcOf(p: java.nio.file.Path) =
    p.resolveSibling(s".${p.getFileName}.crc")

  test("no IceLite write path launches a process") {
    val wh = scratch("localfs-nofork")
    spark.conf.set("spark.sql.catalog.icefs", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.icefs.warehouse", wh)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val t = try {
      val t = new IceCatalog(spark, wh).createTable("lake", "t", rows(0, 1).schema)
      t.append(rows(0, 100))
      t.upsert(rows(90, 110), Seq("id"))
      t.upsertMor(rows(105, 120), Seq("id"))
      t.deleteWhereMor(Seq(EqualTo("id", 3L)))
      spark.sql("INSERT INTO icefs.lake.t VALUES (1000, 2000), (1001, 2002)")
      // the probe: one launch that does name the warehouse, so a recording
      // that saw nothing cannot pass
      new ProcessBuilder("true").directory(new java.io.File(wh)).start().waitFor()
      t
    } finally rec.stop()
    val dump = Files.createTempFile("localfs", ".jfr")
    try {
      rec.dump(dump)
      rec.close()
      val launches = RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => s"${e.getString("command")} in ${e.getString("directory")}")
        .filter(_.contains(wh))
      assert(launches == Seq(s"true in $wh"),
        s"IceLite launched ${launches.size - 1} processes: ${launches.take(5)}")
    } finally Files.deleteIfExists(dump)
    assert(t.toDF.count() == 121)
    assert(t.toDF.filter(col("id") === 3L).isEmpty)
  }

  test("created files and directories get Hadoop LocalFileSystem's modes") {
    def modes(fs: FileSystem, dir: Path): Seq[String] = {
      val d = new Path(dir, "d")
      val f = new Path(dir, "f")
      fs.mkdirs(d)
      fs.create(f, true).close()
      Seq(local(d), local(f), crcOf(local(f))).map(p =>
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
    }
    val base = scratch("localfs-modes")
    val shared = spark.sparkContext.hadoopConfiguration
    // a conf of its own takes effect only on an uncached FileSystem, in
    // Hadoop and in IceFs alike
    val strict = new Configuration(shared)
    strict.set("fs.permissions.umask-mode", "077")
    strict.setBoolean("fs.file.impl.disable.cache", true)
    for ((conf, tag) <- Seq(shared -> "default", strict -> "077")) {
      val viaHadoop = modes(FileSystem.getLocal(conf), new Path(base, s"$tag-hadoop"))
      val viaIceFs = modes(IceFs.of(new Path(base), conf), new Path(base, s"$tag-icefs"))
      assert(viaIceFs == viaHadoop, s"umask $tag")
    }
    assert(modes(IceFs.of(new Path(base), strict), new Path(base, "077-again")) ==
      Seq("rwx------", "rw-------", "rw-------"))
  }

  test("checksum sidecars stay, and a corrupted manifest fails its checksum") {
    val wh = scratch("localfs-crc")
    val cat = new IceCatalog(spark, wh)
    val t = cat.createTable("lake", "t", rows(0, 1).schema)
    t.append(rows(0, 100))
    val m = t.meta
    val tableDir = cat.tablePath("lake", "t")
    val manifest = new Path(m.currentSnapshot.get.manifestFile)
    val vFile = local(new Path(MetaIo.metadataDir(tableDir), s"v${m.version}.json"))
    val dataFile = Files.walk(local(new Path(tableDir, "data"))).iterator.asScala
      .find(_.toString.endsWith(".parquet")).get
    Seq(vFile, local(manifest), dataFile).foreach(p =>
      assert(Files.exists(crcOf(p)), s"no checksum sidecar for $p"))
    // nothing has read the manifest yet, so no cache can answer for it
    val raf = new RandomAccessFile(local(manifest).toFile, "rw")
    try {
      raf.seek(10)
      val b = raf.read()
      raf.seek(10)
      raf.write(b ^ 1)
    } finally raf.close()
    intercept[ChecksumException](MetaIo.readManifestDoc(
      IceFs.of(manifest, spark.sparkContext.hadoopConfiguration), manifest.toString))
  }

  test("a version hint read between its rename and its .crc rename is retried") {
    val wh = scratch("localfs-hint")
    val conf = spark.sparkContext.hadoopConfiguration
    val cat = new IceCatalog(spark, wh)
    val t = cat.createTable("lake", "t", rows(0, 1).schema)
    t.append(rows(0, 10))
    val tableDir = cat.tablePath("lake", "t")
    val hint = local(MetaIo.hintFile(tableDir))
    val pointer = Files.readAllBytes(hint)
    assert(new String(pointer) == "2")
    // the torn state of a hint swap: one pointer under another's checksum
    def tear(): Unit = Files.write(hint, "1".getBytes)
    var opens = 0
    val swapping = new org.apache.hadoop.fs.FilterFileSystem(IceFs.of(tableDir, conf)) {
      override def open(p: Path, bufferSize: Int) = {
        if (p.getName == hint.getFileName.toString) {
          opens += 1
          if (opens == 3) Files.write(hint, pointer) // the .crc rename lands
        }
        super.open(p, bufferSize)
      }
    }
    swapping.setConf(conf)
    tear()
    assert(MetaIo.read(swapping, tableDir).version == 2)
    assert(opens == 3)
    // a checksum that never matches is still a named error
    tear()
    val e = intercept[IllegalStateException](MetaIo.read(IceFs.of(tableDir, conf), tableDir))
    assert(e.getMessage.startsWith("unreadable version hint"))
  }
}
